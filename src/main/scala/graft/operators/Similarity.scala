package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

import Pins.{pin, scoped}

/** SURVEY §2.E — approximate nearest-neighbor search over an embedding
  * column. Two scale paths around the exact brute-force baseline
  * (SimilarityQueries E1):
  *
  *  - E2 random-hyperplane LSH: signatures on both sides, candidates
  *    from an equi-join on (table, bucket) keys;
  *  - E3 IVF: k-means-lite centroids fitted in a short driver loop
  *    (model metadata — k×dim doubles, like any MLlib model), data
  *    partitioned by nearest centroid, queries probing the top-nprobe
  *    centroids.
  *
  * Both turn O(|queries|·|corpus|) scoring into bucketed equi-joins;
  * exact cosine runs only on the candidate set, and top-k is a
  * per-query window over candidates (bounded by bucket sizes).
  * Multi-consumer relations are pinned through [[Pins.pin]] (cache
  * lifetime: its scaladoc).
  */
object Similarity {

  /** Deterministic random hyperplanes: `tables × bits` planes of
    * dimension `dim`, from a fixed-seed Gaussian. */
  private[graft] def hyperplanes(tables: Int, bits: Int, dim: Int,
                                 seed: Long): Array[Array[Array[Double]]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(tables, bits, dim)(rnd.nextGaussian())
  }

  /** Hash width for ~`targetBucket` expected rows per LSH bucket:
    * the smallest `bits` with `2^bits >= n / targetBucket`, clamped to
    * [2, 24]. This is the contract that keeps in-bucket candidate
    * generation LINEAR in corpus size: per table the expected pair
    * count is Σ|bucket|²/2 ≈ n²/2^(bits+1) ≤ n·targetBucket/2, so
    * growing n grows `bits` with log₂(n) and the per-table candidate
    * volume stays ~n·targetBucket — a FIXED bits (the r3 default,
    * bits=4 ⇒ 16 buckets forever) makes the "scale path" quietly
    * quadratic at 10⁹ rows (docs/SCALE.md §LSH). */
  private[graft] def autoBits(n: Long, targetBucket: Long = 64L): Int = {
    val buckets = math.max(1.0, n.toDouble / math.max(1L, targetBucket))
    math.min(24, math.max(2, math.ceil(math.log(buckets) / math.log(2)).toInt))
  }

  /** P(one sign-hash bit agrees) for a pair at cosine similarity s:
    * 1 − acos(s)/π — the random-hyperplane collision curve. */
  private[graft] def bitAgreeProb(s: Double): Double =
    1.0 - math.acos(math.max(-1.0, math.min(1.0, s))) / math.Pi

  /** Expected recall of a (bits, tables) layout for a pair AT the
    * design similarity: 1 − (1 − p^bits)^tables with
    * p = [[bitAgreeProb]](designSim). Computed as
    * −expm1(tables·log1p(−p^bits)) so the sub-1e-16 per-table
    * collision probabilities that motivate the clamp don't round to
    * recall 0 or 1 (same precision hazard as [[autoTables]]'s log1p).
    * This is the number the clamp diagnostics surface: callers can ask
    * what a layout actually delivers instead of trusting the target. */
  def expectedRecall(bits: Int, tables: Int, designSim: Double): Double = {
    val pb = math.pow(bitAgreeProb(designSim), bits)
    if (pb >= 1.0) 1.0 else -math.expm1(tables * math.log1p(-pb))
  }

  /** The lowest design similarity the 256-table cap can serve at
    * `targetRecall` for a given hash width — the concrete remedy the
    * clamp diagnostic names (raise designSim to at least this, or run
    * the exact baseline). Inverts the collision curve: the per-table
    * probability 256 tables need is p₁ = 1−(1−r)^(1/256), the
    * per-bit probability p₁^(1/bits), and s = cos((1−p)·π). */
  private[graft] def minDesignSimAtCap(bits: Int, targetRecall: Double,
                                       cap: Int = 256): Double = {
    val perTable = -math.expm1(math.log1p(-targetRecall) / cap)
    val perBit = math.pow(perTable, 1.0 / bits)
    math.cos((1.0 - perBit) * math.Pi)
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** `SPARK_GRAFT_STRICT_RECALL=true` turns the clamp diagnostic into
    * a refusal (the pipeline stance: a 1% answer to a 90% contract is
    * corrupt training data, not a slow query). Default is a loud
    * WARN: ad-hoc analytics keeps running with the shortfall named. */
  private[graft] def strictRecallEnv: Boolean =
    sys.env.get("SPARK_GRAFT_STRICT_RECALL").exists(_.equalsIgnoreCase("true"))

  /** Hash-table count that PRESERVES the recall contract as `bits`
    * grows: the smallest L with 1−(1−p^bits)^L ≥ targetRecall, where
    * p = [[bitAgreeProb]](designSim) — i.e. a pair AT the design
    * similarity still collides in ≥1 table with probability
    * targetRecall. Growing bits alone (for candidate linearity) drives
    * per-table collision p^bits toward zero and silently collapses
    * recall (review finding: ~0.25 at n=20k under a fixed 16 tables);
    * L must grow ~p^−bits alongside. This is the true LSH cost curve
    * (the n^ρ exponent): recall at a LOW design similarity needs
    * rapidly more tables — clamped at 256, beyond which the honest
    * answer is a higher design similarity or the exact baseline.
    * Floor 8: at tiny corpora the formula can drop to a table count
    * whose per-pair variance is visible; 8 cheap tables keep small-SF
    * recall near 1.
    *
    * When the cap BINDS — the required table count exceeds 256 and
    * [[expectedRecall]] at 256 tables falls short of `targetRecall` —
    * the shortfall is surfaced LOUDLY instead of silently returning a
    * near-empty result (VERDICT r4 #1: at n=10⁹ / designSim 0.5 the
    * clamped layout delivers ~1.5% recall against a 0.9 target):
    * `strict=true` (or `SPARK_GRAFT_STRICT_RECALL=true`) refuses with
    * the achievable recall, required table count, and the minimum
    * design similarity the cap CAN serve; otherwise an ERROR-level log
    * names the same numbers. */
  private[graft] def autoTables(bits: Int, designSim: Double,
                                targetRecall: Double = 0.9,
                                strict: Boolean = strictRecallEnv): Int = {
    val pb = math.pow(bitAgreeProb(designSim), bits)
    if (pb >= 1.0) 8
    else {
      // log1p, NOT log(1 - pb): below pb ≈ 1e-16, 1.0-pb rounds to
      // 1.0 and log(1.0)=0 drives l to -Infinity → the floor (8)
      // instead of the cap (256) — the recall collapse this function
      // exists to prevent, silently, at exactly the extreme widths
      // where it matters (review finding). log1p(-pb) ≈ -pb keeps
      // full precision.
      val l = math.log(1.0 - targetRecall) / math.log1p(-pb)
      val t = math.min(256, math.max(8, math.ceil(l).toInt))
      val achievable = expectedRecall(bits, t, designSim)
      // small epsilon: ceil() overshoot means an exactly-clamped t can
      // sit a rounding ulp under the target without the cap binding
      if (t == 256 && achievable < targetRecall - 1e-9) {
        val msg = f"LSH table clamp binds: bits=$bits designSim=$designSim%.2f " +
          f"needs ~${math.ceil(l).toLong} tables for recall $targetRecall%.2f " +
          f"but is capped at 256, delivering expected recall $achievable%.4f. " +
          f"Raise designSim to >= ${minDesignSimAtCap(bits, targetRecall)}%.2f, " +
          "pin (bits, tables) to accept the lower recall explicitly, or run " +
          "the exact baseline (Guard opt-in). Set SPARK_GRAFT_STRICT_RECALL=true " +
          "to make this a failure."
        if (strict) throw new IllegalArgumentException(msg)
        log.error(msg)
      }
      t
    }
  }

  /** Dimensionality of the first non-null vector, or None for an
    * empty/all-null input — callers short-circuit to an empty result
    * instead of throwing on the head() of nothing (ADVICE r3). The
    * probe reads one row, not a scan. */
  private[graft] def probeDim(vecs: DataFrame, vecCol: String): Option[Int] =
    vecs.filter(col(vecCol).isNotNull).select(size(col(vecCol)))
      .limit(1).collect().headOption.map(_.getInt(0))

  /** Degenerate-bucket guard over (bk, id) rows ([[Skew.capHotKeys]]):
    * buckets holding more than `maxBucket` members are dropped BEFORE
    * any in-bucket pairing. A bucket that large is an identical-vector
    * spike (candidate output within it is genuinely quadratic); exact
    * dedup owns that mass. */
  private[graft] def capBuckets(ids: DataFrame, maxBucket: Long,
                                keyCols: Seq[String]): DataFrame =
    Skew.capHotKeys(ids, maxBucket, keyCols)

  /** (table, bucket) key pairs for one vector column: bit i of the
    * bucket in table t = sign of v · plane(t)(i). Shared with
    * [[Dedup.embeddingPairsLsh]] so search and dedup bucket identically. */
  private[graft] def bucketKeys(v: Column, planes: Array[Array[Array[Double]]]): Column =
    array(planes.indices.map { t =>
      val key = planes(t).indices.map { i =>
        when(VectorFunctions.dot(v, typedlit(planes(t)(i).toSeq)) > 0,
          lit(1 << i)).otherwise(lit(0))
      }.reduce(_ + _)
      struct(lit(t).as("t"), key.as("key"))
    }: _*)

  /** E2: LSH-bucketed approximate top-k. Queries = rows where
    * `idCol % queryMod == 0` (same convention as E1). Pass `dim` when
    * known to skip the one-row dimensionality probe.
    *
    * `bits` defaults to [[autoBits]] of the corpus row count (one
    * metadata-cheap count job at build time), so bucket capacity
    * scales with the corpus instead of freezing at an sf0.1 constant;
    * `tables` defaults to [[autoTables]] so the recall contract at
    * `designSim` survives the wider hashes (more bits REQUIRE more
    * tables — the two must move together). Pass either explicitly to
    * pin a layout. `maxBucket` drops degenerate buckets
    * (identical-vector spikes) before in-bucket pairing — a query
    * whose every bucket is degenerate loses those candidates, the
    * documented trade for refusing quadratic blowup. */
  def lshTopK(vecs: DataFrame, idCol: String, vecCol: String,
              k: Int = 10, queryMod: Int = 100,
              tables: Option[Int] = None, bits: Option[Int] = None,
              seed: Long = 42L,
              dim: Option[Int] = None, targetBucket: Long = 64L,
              maxBucket: Long = 10000L,
              designSim: Double = 0.5,
              forceLsh: Boolean = false): DataFrame =
    dim.orElse(probeDim(vecs, vecCol)) match {
      case None => // empty / all-null input: empty result, same schema
        vecs.limit(0).select(col(idCol).as("q_id"), col(idCol).as("vec_id"),
          lit(0.0).as("cosine"), lit(0L).as("rk"))
      case Some(d) =>
        lazy val n = vecs.count() // forced only in auto mode
        val b = bits.getOrElse(autoBits(n, targetBucket))
        val t = tables.getOrElse(autoTables(b, designSim))
        // COST-BASED fallback (auto mode only), sound on BOTH axes:
        // (1) arithmetic — bucket-key hashing costs tables·bits
        // sign-dot-products per corpus row, exact scoring one dot per
        // (query, row) pair, so a query batch smaller than
        // tables·bits does strictly fewer dots; (2) materialization —
        // brute force pushes nq·n candidate rows through the top-k
        // window, which only stays ≤ the LSH plan's candidate volume
        // while LSH is SATURATED (tables·targetBucket ≥ n/2 ⇒ LSH
        // candidates ≈ nq·n too). Without the saturation leg, a
        // sparse query batch on a 10⁹-row corpus would pass the dot
        // test and materialize 10¹² rows the LSH plan never creates
        // (review finding — same flip the pair fallback bounds).
        // Both conditions hold at sf0.1 (20 queries vs 110 hash
        // dots/row; brute measured ~10× faster, recall 1.0). Large
        // corpora/query batches keep the LSH plan; pinning bits or
        // tables opts out. Pre-flight cost: three SMALL serial jobs
        // (1-row dim probe, footer-only count, per-partition-bounded
        // limit probe) — none scans the corpus; folding them into one
        // agg would full-scan idCol, strictly worse at scale.
        // n ≤ 8192 (same absolute leg as the pair-dedup fallback):
        // the saturation inequality alone stops bounding n once a
        // caller raises targetBucket, and an unbounded brute path
        // would materialize nq·n rows with the Guard bypassed.
        // Second leg (r6, from the 10x scale run): an ABSOLUTE bound
        // on what brute force would materialize — nq·n ≤ 32M
        // candidate rows is bounded-cheap at ANY corpus size (one
        // codegen stage, ~0.5 s at 32 threads; measured 3.4 s for the
        // ~90-table LSH plan at nq=200, n=20k), and unlike the
        // saturation leg it cannot flip on a sparse query batch over
        // a huge corpus: nq is probed with a limit bounded by
        // 32M / n + 1, so a 10⁹-row corpus admits only nq ≤ 0.03 —
        // i.e. effectively never falls back, which is correct there.
        // `forceLsh` opts out of the fallback while KEEPING the auto
        // knobs — the contract-check hook: pinning (bits, tables) also
        // forces the LSH plan but freezes an operating point that goes
        // degenerate at a different corpus size (bits=4 over 200k rows
        // = 12.5k-vec buckets, all over maxBucket → zero candidates),
        // while auto knobs track the corpus (VERDICT r7 #1 at 100×).
        if (!forceLsh && bits.isEmpty && tables.isEmpty) {
          val dotCap = t.toLong * b            // arithmetic leg
          val matCap = 32000000L / math.max(1L, n) // materialization leg
          val probeTo = math.max(dotCap, matCap)
          val nq = vecs.filter(col(idCol) % queryMod === 0)
            .select().limit((math.min(probeTo, Int.MaxValue - 1L) + 1).toInt)
            .count()
          val saturated = t.toLong * targetBucket >= n / 2 && n <= 8192L
          if ((saturated && nq <= dotCap) || nq * n <= 32000000L)
            return bruteForceTopK(vecs, idCol, vecCol, k, queryMod,
              allowAllPairs = true) // ≤ the work the LSH plan would do
        }
        val v = Par.widen(vecs).select(
            col(idCol).as("id"), VectorFunctions.asDouble(col(vecCol)).as("v"))
          .withColumn("nrm", VectorFunctions.l2(col("v")))
        val planes = hyperplanes(t, b, d, seed)
        // persist the PRE-explode hashed form: the sign-hash costs
        // tables·bits·dim multiplies per row, and the capped id stream
        // feeds four plan consumers (cap count branch + semi-join
        // stream, then both sides of the bucket self-join) that
        // Catalyst cannot collapse — unpersisted, the hashing runs
        // four times. The cached payload is (id, tables bucket keys)
        // ≈ tables·8 B per row — sketch-sized, not the vector table;
        // the explode downstream recomputes from cache for pennies.
        val hashed = pin(v.select(col("id"), bucketKeys(col("v"), planes).as("bks")))
        val keyed = hashed.select(col("id"), explode(col("bks")).as("bk"))
        // the bucket join and multi-table distinct move ONLY id pairs;
        // vectors re-attach by id equi-joins afterwards — the distinct's
        // shuffle is 16 bytes per candidate instead of two embedding
        // payloads per candidate (see Dedup.embeddingPairsLsh)
        val ids = capBuckets(keyed.select(col("bk"), col("id")),
          maxBucket, Seq("bk"))
        val pairs = ids.filter(col("id") % queryMod === 0)
          .withColumnRenamed("id", "q_id")
          .join(ids, "bk")
          .where(col("q_id") =!= col("id"))
          .select(col("q_id"), col("id").as("vec_id"))
          .distinct() // same pair can collide in several tables
        val cand = pairs
          .join(v.select(col("id").as("q_id"), col("v").as("qv"), col("nrm").as("qn")), "q_id")
          .join(v.select(col("id").as("vec_id"), col("v"), col("nrm")), "vec_id")
        topK(cand, k)
    }

  /** Fit k-means-lite centroids: deterministic init (lowest ids),
    * `iters` Lloyd steps. Returns k × dim centroid matrix (driver-side
    * model metadata, k·dim doubles).
    *
    * `fitSamplePct` < 100 fits on a deterministic content-hash sample
    * ([[PipelineOps.hashKeep]] — reproducible across runs and
    * partitionings) instead of the full corpus: centroid quality is a
    * statistical property of the distribution, not the row count, so a
    * sample fit yields statistically equivalent centroids at a
    * fraction of the scan cost — at 100 TB this is the difference
    * between Lloyd passes over terabytes and over a cached sample. The
    * sample is cached for the duration of the fit (init + `iters`
    * assignment/mean passes read it, not the source). Falls back to
    * the full corpus when the sample can't seed k centroids. */
  def fitCentroids(vecs: DataFrame, idCol: String, vecCol: String,
                   k: Int, iters: Int,
                   fitSamplePct: Int = 100): Array[Array[Double]] = {
    val full = vecs.select(col(idCol).as("id"),
      VectorFunctions.asDouble(col(vecCol)).as("v"))
    // cache ONLY the sampled fit input: at pct=100 the "sample" is the
    // whole corpus, and pinning the full vector table into executor
    // storage is a new cost the caller never asked for (review
    // finding) — the pre-sampling behavior (re-scan per pass) stands
    scoped {
      val v =
        if (fitSamplePct >= 100) full
        else pin(full.filter(PipelineOps.hashKeep(col("id"), lit(fitSamplePct))))
      var init: Array[Array[Double]] = v.orderBy("id").limit(k)
        .select("v").collect().map(_.getSeq[Double](0).toArray)
      // degenerate sample (fewer rows than centroids): fit on everything
      val fitOn = if (init.length < k) {
        init = full.orderBy("id").limit(k)
          .select("v").collect().map(_.getSeq[Double](0).toArray)
        full
      } else v
      var centroids = init
      for (_ <- 0 until iters) {
        val assigned = fitOn.withColumn("cid", nearestCentroid(col("v"), centroids, 1)(0))
        val means = assigned
          .select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
          .groupBy("cid", "pos").agg(avg(col("x")).as("m"))
          .groupBy("cid").agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
          .select(col("cid"), transform(col("pm"), p => p.getField("m")).as("c"))
          .collect().map(r => r.getAs[Long]("cid") -> r.getSeq[Double](1).toArray).toMap
        centroids = centroids.indices.map(i => means.getOrElse(i.toLong, centroids(i))).toArray
      }
      centroids
    }
  }

  /** E13 (r14): EXACT power iteration for the corpus's top principal
    * direction — the PCA-diagnostic of an embedding store (dominant
    * axis, anisotropy screening; the direction mean-centering /
    * whitening pipelines remove first), made bit-replayable with the
    * [[kmeansExact]] integer discipline applied to linear algebra:
    *
    *  - components quantize to floor(x·scale) ints (scale 100 — the
    *    Gram entries must stay in long range: |q| ≤ 2·scale ⇒
    *    |q_i·q_j| ≤ 4·scale², summed over n rows needs
    *    n·4·scale² ≪ 2⁶³, good to n ≈ 10¹³ at scale 100);
    *  - the 64×64 Gram matrix M = Σ q·qᵀ is ONE map-side-combinable
    *    hash-agg over the 4096 (i, j) cells per row — the exchange
    *    carries ≤ 4096·partitions rows, never the corpus — then a
    *    bounded dim² collect (model-fit class);
    *  - power rounds run on the COLLECTED integer matrix: v₀ = 1,
    *    w = M·v exactly in longs (|w| ≤ dim·maxM·1000 < 2⁶³), then
    *    the deterministic integer rescale v' = w / max(1,
    *    max|w| / 1000) with TRUNCATING division on both engines
    *    (DuckDB's BIGINT `//` truncates toward zero, probed — NOT
    *    floor; Scala's Long `/` matches) — keeps |v| ≤ ~1000 so the
    *    next round cannot overflow, where a float normalize would
    *    drift;
    *  - sign is pinned by v₀ = all-ones (no eigenvector sign
    *    ambiguity), ties and everything else are pure integer ops.
    *
    * Output: (pos, v) — the integer direction after `rounds` rounds
    * (callers cosine against it or normalize downstream). */
  def pcaPowerExact(vecs: DataFrame, vecCol: String, rounds: Int = 3,
                    scale: Int = 100): DataFrame = {
    require(rounds >= 1, "pcaPowerExact: rounds must be >= 1")
    val spark = vecs.sparkSession
    import spark.implicits._
    val q = transform(VectorFunctions.asDouble(col(vecCol)),
      x => floor(x * scale).cast("long"))
    val cells = vecs.filter(col(vecCol).isNotNull)
      .select(q.as("q"))
      .select(posexplode(col("q")).as(Seq("i", "qi")), col("q"))
      .select(col("i"), posexplode(col("q")).as(Seq("j", "qj")),
        col("qi"))
      .groupBy("i", "j").agg(sum(col("qi") * col("qj")).as("m"))
      .collect()
    require(cells.nonEmpty, "pcaPowerExact: empty corpus")
    val dim = cells.map(_.getInt(0)).max + 1
    val m = Array.ofDim[Long](dim, dim)
    cells.foreach(r => m(r.getInt(0))(r.getInt(1)) = r.getLong(2))
    var v = Array.fill(dim)(1L)
    for (_ <- 1 to rounds) {
      val w = Array.tabulate(dim)(i =>
        (0 until dim).map(j => m(i)(j) * v(j)).sum)
      val mx = w.map(math.abs).max
      val s = math.max(1L, mx / 1000L)
      v = w.map(_ / s)
    }
    v.zipWithIndex.map { case (x, i) => (i.toLong, x) }.toSeq
      .toDF("pos", "v")
  }

  /** E11 (r13): EXACT k-means over the quantized integer grid — the
    * clustering primitive of embedding-curation pipelines (SemDeDup's
    * cluster-then-prune, IVF coarse quantizers, cluster-balanced
    * sampling), made bit-replayable across engines so the WHOLE
    * assignment is FULL-oracle-checkable, not just a recall contract.
    *
    * Replayability design (the q1_agg scaled-integer discipline
    * applied to Lloyd's loop — float k-means is not oracle-able
    * because mean reduction order drifts between engines):
    *  - components quantize to `floor(x · scale)` as integers (double
    *    multiply + floor are IEEE-identical on both engines);
    *  - distances compare as EXACT integers: with |q| ≤ ~2·scale the
    *    squared distance is ≤ dim·(4·scale)² ≈ 2^41 ≪ 2^53, so the
    *    double dot products compute it exactly — argmin can't drift
    *    by an ulp;
    *  - ties break to the LOWEST cid via one packed key
    *    (dist·k + cid, still exact in double);
    *  - centroid update is floor(Σq / n) in pure integer arithmetic
    *    (s − pmod(s, n) is exactly divisible, so any division
    *    rounding mode agrees); an emptied cluster keeps its previous
    *    centroid (deterministic, both engines);
    *  - init = the k lowest-id vectors (cid = id rank).
    *
    * Scale shape: assignment is a PROJECTION — k per-centroid literal
    * dist columns (k here is the small report-cluster count, not the
    * √n IVF regime; see [[nearestCentroid]] for the fused-matrix form
    * that regime needs) folded by `least`, zero shuffle. Each update
    * round is one posexplode hash-agg whose map-side partial folds to
    * ≤ k·dim groups before the exchange, and the collected model
    * state is k·dim longs (bounded collect). Total: `rounds` linear
    * passes over a cached integer table — the Lloyd cost model, with
    * no per-pair or per-candidate blowup anywhere. */
  def kmeansExact(vecs: DataFrame, idCol: String, vecCol: String,
                  k: Int = 8, rounds: Int = 3,
                  scale: Int = 10000): DataFrame = {
    require(k >= 1 && rounds >= 1, "kmeansExact: k and rounds must be >= 1")
    val quant = transform(VectorFunctions.asDouble(col(vecCol)),
      x => floor(x * scale).cast("int"))
    // the fit input is model-fit-scoped: pinned inside its own scope
    // (id + dim ints per row — sketch-sized), read by `rounds`
    // assignment passes + `rounds-1` update aggregations, and released
    // on return — the result below is localCheckpoint'ed (eager,
    // lineage truncated) so the returned frame no longer references
    // the cache and repeated invocations leak nothing (ADVICE r13)
    scoped {
      val base = pin(vecs.filter(col(vecCol).isNotNull)
        .select(col(idCol).cast("long").as("vec_id"), quant.as("q")))
      // deterministic init: the k lowest-id vectors, cid = id rank
      // (bounded collect: k rows of model state)
      var cents: Array[Array[Long]] = base.orderBy("vec_id").limit(k)
        .select("q").collect()
        .map(_.getSeq[Int](0).map(_.toLong).toArray)
      require(cents.length == k,
        s"kmeansExact: corpus has ${cents.length} rows < k=$k")
      def assigned: DataFrame = {
        val qd = col("q").cast("array<double>")
        val qq = VectorFunctions.dot(qd, qd)
        val keys = cents.zipWithIndex.map { case (c, cid) =>
          val cd = array(c.map(v => lit(v.toDouble)): _*)
          val cc = c.map(v => v.toDouble * v).sum
          (qq + lit(cc) - lit(2.0d) * VectorFunctions.dot(qd, cd)) * k + cid
        }
        // least() needs ≥ 2 args — k = 1 is the single head key
        val best = if (keys.length == 1) keys.head else least(keys: _*)
        base.withColumn("cid", (best.cast("long") % k).cast("int"))
      }
      for (_ <- 1 until rounds) {
        // bounded collect: ≤ k·dim (cid, pos, sum, count) rows — the
        // per-round model state, same discipline as fitCentroids
        val sums = assigned
          .select(col("cid"), posexplode(col("q")).as(Seq("pos", "x")))
          .groupBy("cid", "pos")
          .agg(sum(col("x").cast("long")).as("s"), count(lit(1)).as("cnt"))
          .collect()
        val byCid = sums.groupBy(_.getAs[Int]("cid"))
        cents = cents.zipWithIndex.map { case (old, cid) =>
          byCid.get(cid) match {
            case None => old // emptied cluster keeps its centroid
            case Some(rows) =>
              val next = old.clone()
              rows.foreach { r =>
                val s = r.getAs[Long]("s"); val n = r.getAs[Long]("cnt")
                next(r.getAs[Int]("pos")) = Math.floorDiv(s, n)
              }
              next
          }
        }
      }
      assigned.select("vec_id", "cid").localCheckpoint()
    }
  }

  /** E12 (r13): cluster-balanced corpus selection — `perCluster`
    * deterministic representatives from every [[kmeansExact]] cluster,
    * the data-mixing primitive of cluster-balanced curation (sample
    * evenly across semantic clusters instead of letting the head
    * cluster dominate the training mix; the selection stage SemDeDup
    * runs after clustering).
    *
    * Draw order is the md5-prefix bucket of the id (the
    * PipelineOps.hashKeep family — a reproducible pseudo-random
    * order), id ascending on ties, so the draw is content-independent
    * and replayable on any engine. Selection is the capacity-m
    * [[graft.functions.TopKPairs]] heap per cluster (score =
    * −bucket, so "smallest bucket wins" rides the heap's
    * score-desc/id-asc order exactly): map-side partials keep
    * per-task state at O(k·perCluster) and no per-cluster sort or
    * k-partition window ever materializes — with k clusters a
    * `row_number().over(partitionBy(cid))` would collapse the whole
    * corpus onto k tasks, the skew class VERDICT r12 #3 killed. */
  def clusterSample(vecs: DataFrame, idCol: String, vecCol: String,
                    perCluster: Int = 25, k: Int = 8,
                    rounds: Int = 3): DataFrame = {
    require(perCluster >= 1, "clusterSample: perCluster must be >= 1")
    val draw = conv(substring(md5(col("vec_id").cast("string")), 1, 8),
      16, 10).cast("long")
    kmeansExact(vecs, idCol, vecCol, k, rounds)
      // −draw < 2³² is exact in double; TopKPairs keeps score desc =
      // draw asc, id asc among equal draws — the oracle's ORDER BY
      .select(col("cid"), col("vec_id"),
        (-draw).cast("double").as("score"))
      .groupBy("cid")
      .agg(Sketches.topkPairsCol(col("score"), col("vec_id"), perCluster)
        .as("sel"))
      .select(col("cid"), posexplode(col("sel")))
      .select(col("cid"), (col("pos") + 1).cast("long").as("rk"),
        col("col").getField("id").as("vec_id"))
      .orderBy("cid", "rk")
  }

  /** Ids of the `nprobe` centroids nearest (by cosine) to `v`, as an
    * array column — one fused native expression holding the centroid
    * matrix as a codegen reference object
    * ([[graft.functions.NearestCentroids]]), NOT per-centroid literal
    * trees: with √n centroid counts the literal form's k cosine
    * subtrees blow the 64 KB codegen method limit and ship k·dim
    * literals in every task's serialized plan (review finding). */
  private[graft] def nearestCentroid(v: Column,
      centroids: Array[Array[Double]], nprobe: Int): Column = {
    import org.apache.spark.sql.{GraftExpressionBridge => B}
    B.column(graft.functions.NearestCentroids(
      B.expression(v), centroids, nprobe))
  }

  /** Centroid count toward √n (clamped [4, 4096]): with k ≈ √n and a
    * fixed nprobe, the probed corpus fraction is nprobe/√n — it
    * SHRINKS as the corpus grows, where a fixed k (the r3 default 16,
    * nprobe 6 ⇒ 37% probed forever) makes every query approach a full
    * scan in expectation at 10⁹ rows (docs/SCALE.md §IVF). */
  private[graft] def autoCentroids(n: Long): Int =
    math.min(4096, math.max(4, math.ceil(math.sqrt(math.max(0L, n).toDouble)).toInt))

  /** Probe count toward √k (floor 6, so small-corpus behavior matches
    * the historical default): a FIXED nprobe against [[autoCentroids]]'
    * growing k shrinks the probed corpus fraction to nprobe/k — 0.15%
    * at the 4096-centroid clamp, where recall on an unclustered corpus
    * tracks the probed mass (VERDICT r4 #2). With nprobe = √k the
    * probed fraction decays as 1/√k instead of 1/k: probed ROWS are
    * n/√k·√k̄ ≈ n^(3/4) under k = √n — still a vanishing fraction of a
    * growing corpus (full-scan cost shrinks relatively), but recall
    * degrades gracefully instead of collapsing with k. The 64 cap is
    * √4096 — exactly the clamp point, so it never binds below the
    * centroid clamp. */
  private[graft] def autoNprobe(nCentroids: Int): Int =
    math.min(64, math.max(6, math.ceil(math.sqrt(nCentroids.toDouble)).toInt))

  /** Fit-sample percentage sized to hold ~max(10k, 50·k) rows — enough
    * to seed and stabilize k centroids, a vanishing fraction of a
    * growing corpus (the fit cost is O(sample), not O(n)). */
  private[graft] def autoFitPct(n: Long, k: Int): Int = {
    val target = math.max(10000L, 50L * k)
    if (n <= target) 100
    else math.min(100, math.max(1, math.ceil(100.0 * target / n).toInt))
  }

  /** E3: IVF approximate top-k — data assigned to its nearest
    * centroid, queries probe the `nprobe` nearest centroid partitions;
    * exact cosine within the probed partitions only. `nCentroids`
    * defaults to [[autoCentroids]] (√n), `fitSamplePct` to
    * [[autoFitPct]], and `nprobe` to [[autoNprobe]] (√k — probes must
    * co-scale with the centroid count or probed mass collapses), all
    * derived from one metadata-cheap count job — the search join is
    * unchanged; only the model size, probe width, and model-fitting
    * scans are tuned to the corpus.
    *
    * `filterCol` NULL posture: a query row whose filter-column value
    * is NULL matches no corpus row (`q_label === label` is never true
    * under NULL) and returns no neighbors — consistent with the
    * brute-force baseline and the `sim_filtered_ann_check` oracle;
    * pre-filter NULLs out (or coalesce to a sentinel label) if they
    * should participate. */
  def ivfTopK(vecs: DataFrame, idCol: String, vecCol: String,
              k: Int = 10, queryMod: Int = 100,
              nCentroids: Option[Int] = None, iters: Int = 2,
              nprobe: Option[Int] = None,
              fitSamplePct: Option[Int] = None,
              filterCol: Option[String] = None): DataFrame =
    probeDim(vecs, vecCol) match {
      case None => // empty / all-null input: empty result, same schema
        vecs.limit(0).select(col(idCol).as("q_id"), col(idCol).as("vec_id"),
          lit(0.0).as("cosine"), lit(0L).as("rk"))
      case Some(_) =>
        lazy val n = vecs.count()
        val kc = nCentroids.getOrElse(autoCentroids(n))
        val pct = fitSamplePct.getOrElse(autoFitPct(n, kc))
        // FILTERED search (the vector-store "search within a
        // category" shape): a predicate applied AFTER probing thins
        // every probed partition by the filter's selectivity, so at
        // the base probe width the candidate pool can starve below k
        // — the standard fix is to co-scale probes with 1/selectivity
        // (bounded: the filter classes here are label-like, a handful
        // of values; ×4 recovers a ¼-selective filter and the cap
        // keeps the worst case at 4× the unfiltered probe cost).
        // The widening applies to the AUTO value only — an explicit
        // nprobe is the caller's setting and is honored verbatim
        // (ADVICE r11: ×4-ing it silently overrode the caller).
        val np = nprobe.getOrElse {
          val base = autoNprobe(kc)
          if (filterCol.isDefined) math.min(kc, base * 4) else base
        }
        // loudness symmetry with the LSH clamp: IVF recall at a small
        // probed fraction is a property of the corpus (clusterable
        // embeddings keep it high; uniform vectors track the fraction)
        // — name the operating point so a shortfall is diagnosable
        // from the log, not a silent surprise
        if (nprobe.isEmpty)
          log.info(f"IVF auto layout: n=$n centroids=$kc nprobe=$np " +
            f"(probed fraction ${np.toDouble / kc}%.4f, fit sample $pct%%)")
        val centroids = fitCentroids(vecs, idCol, vecCol, kc, iters, pct)
        val fCols = filterCol.toSeq
        val v = Par.widen(vecs).select(
            col(idCol).as("id") +: VectorFunctions.asDouble(col(vecCol)).as("v")
              +: fCols.map(col): _*)
          .withColumn("nrm", VectorFunctions.l2(col("v")))
        val data = v.withColumn("cid", nearestCentroid(col("v"), centroids, 1)(0))
        val queries = v.filter(col("id") % queryMod === 0)
          .select(col("id").as("q_id") +: col("v").as("qv")
              +: col("nrm").as("qn")
              +: explode(nearestCentroid(col("v"), centroids,
                math.min(np, kc))).as("cid")
              +: fCols.map(c => col(c).as(s"q_$c")): _*)
        val cand = queries.join(data, "cid")
          .where(filterCol.map(c => col(s"q_$c") === col(c))
            .foldLeft(col("q_id") =!= col("id"))(_ && _))
          .select(col("q_id"), col("id").as("vec_id"), col("qv"), col("qn"),
                  col("v"), col("nrm"))
        topK(cand, k)
    }

  /** Deterministic driver-side Lloyd fit of the PQ sub-codebooks
    * (E10): a bounded sample (TakeOrderedAndProject by id — no full
    * collect; ≤ `sampleCap` rows of `dim` doubles) is sliced into
    * `nSub` contiguous subspaces and each fitted with `codebookSize`
    * EUCLIDEAN codewords — squared-L2 is the PQ training objective
    * (reconstruction MSE), distinct from the coarse quantizer's
    * cosine. Seeds are the first `codebookSize` DISTINCT subvectors
    * in id order; empty clusters keep their previous codeword. Model
    * size nSub·codebookSize·dsub doubles — the model-fit class (the
    * [[fitCentroids]] collect posture), independent of corpus size.
    */
  private[graft] def fitSubCodebooks(vecs: DataFrame, idCol: String,
      vecCol: String, nSub: Int, codebookSize: Int, iters: Int = 8,
      sampleCap: Int = 4096): Array[Array[Array[Double]]] = {
    val sample = vecs
      .select(col(idCol).as("id"), VectorFunctions.asDouble(col(vecCol)).as("v"))
      .filter(col("v").isNotNull)
      .orderBy("id").limit(sampleCap)
      .select("v").collect().map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "fitSubCodebooks: empty vector corpus")
    val dim = sample.map(_.length).max
    require(dim % nSub == 0,
      s"fitSubCodebooks: dim $dim not divisible into $nSub subspaces")
    val w = dim / nSub
    Array.tabulate(nSub) { s =>
      val sub = sample.map { v =>
        Array.tabulate(w)(j => if (s * w + j < v.length) v(s * w + j) else 0.0)
      }
      val distinctSeeds = scala.collection.mutable.LinkedHashSet[Seq[Double]]()
      sub.iterator.takeWhile(_ => distinctSeeds.size < codebookSize)
        .foreach(v => distinctSeeds += v.toSeq)
      var cb = distinctSeeds.map(_.toArray).toArray
      for (_ <- 1 to iters) {
        val sums = Array.fill(cb.length)(new Array[Double](w))
        val cnts = new Array[Long](cb.length)
        sub.foreach { v =>
          var best = 0; var bestD = Double.PositiveInfinity
          var c = 0
          while (c < cb.length) {
            var d = 0.0; var j = 0
            while (j < w) { val x = v(j) - cb(c)(j); d += x * x; j += 1 }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          var j = 0
          while (j < w) { sums(best)(j) += v(j); j += 1 }
          cnts(best) += 1
        }
        cb = cb.indices.map { c =>
          if (cnts(c) == 0) cb(c)
          else Array.tabulate(w)(j => sums(c)(j) / cnts(c))
        }.toArray
      }
      cb
    }
  }

  private[graft] def pqEncode(v: Column,
      cbs: Array[Array[Array[Double]]],
      packed: Boolean = true): Column = {
    import org.apache.spark.sql.{GraftExpressionBridge => B}
    B.column(graft.functions.PqEncode(B.expression(v), cbs, packed))
  }

  private[graft] def pqDecode(codes: Column,
      cbs: Array[Array[Array[Double]]]): Column = {
    import org.apache.spark.sql.{GraftExpressionBridge => B}
    B.column(graft.functions.PqDecode(B.expression(codes), cbs))
  }

  private[graft] def pqAdcDot(q: Column, codes: Column,
      cbs: Array[Array[Array[Double]]]): Column = {
    import org.apache.spark.sql.{GraftExpressionBridge => B}
    B.column(graft.functions.PqAdcDot(
      B.expression(q), B.expression(codes), cbs))
  }

  private[graft] def pqReconNorm(codes: Column,
      cbs: Array[Array[Array[Double]]]): Column = {
    import org.apache.spark.sql.{GraftExpressionBridge => B}
    B.column(graft.functions.PqReconNorm(B.expression(codes), cbs))
  }

  /** E10: IVF-PQ approximate top-k (Jégou et al. 2011) — the
    * published 100-TB ANN memory posture (VERDICT r11 #4). Same
    * coarse quantizer + probing as [[ivfTopK]], but the SCORED
    * candidate side carries only (id, cid, codes): nSub PACKED BYTES
    * (BinaryType — exactly 8 B at nSub=8, realized r13 per VERDICT
    * r12 #5; the prior array<int> layout rode ~40 B in Tungsten rows)
    * instead of 64 floats (256 B raw / 64 B int8 — the E4 posture) —
    * the candidate shuffle and the resident search set shrink ~32×,
    * which is what makes a 10¹¹-vector index fit a cluster's memory
    * (SCALE.md §IVF-PQ for the accounting).
    *
    * Scoring is ADC: `dot(q, PqDecode(codes))` ≡ Σ_s dot(q_s,
    * cb_s[code_s]) — the query side stays exact, the corpus side is
    * its reconstruction ([[graft.functions.PqDecode]] scaladoc). PQ
    * scores rank a SHORTLIST of `refineFactor`·k per query; the
    * shortlist alone joins back to the full vectors for exact cosine
    * re-ranking (the standard refine stage — bounded: |queries|·
    * refineFactor·k vector fetches, not |candidates|), so every
    * RETURNED hit is exactly scored under the E1 protocol (the
    * `sim_ivfpq_check` recall join binds on the cosine value too).
    */
  def ivfPqTopK(vecs: DataFrame, idCol: String, vecCol: String,
                k: Int = 10, queryMod: Int = 100,
                nCoarse: Option[Int] = None, nprobe: Option[Int] = None,
                nSub: Int = 8, codebookSize: Int = 256,
                refineFactor: Int = 4, iters: Int = 2,
                fitSamplePct: Option[Int] = None): DataFrame =
    probeDim(vecs, vecCol) match {
      case None => // empty / all-null input: empty result, same schema
        vecs.limit(0).select(col(idCol).as("q_id"), col(idCol).as("vec_id"),
          lit(0.0).as("cosine"), lit(0L).as("rk"))
      case Some(_) =>
        lazy val n = vecs.count()
        val kc = nCoarse.getOrElse(autoCentroids(n))
        val pct = fitSamplePct.getOrElse(autoFitPct(n, kc))
        val np = nprobe.getOrElse(autoNprobe(kc))
        val coarse = fitCentroids(vecs, idCol, vecCol, kc, iters, pct)
        val cbs = fitSubCodebooks(vecs, idCol, vecCol, nSub, codebookSize)
        val v = Par.widen(vecs).select(col(idCol).as("id"),
            VectorFunctions.asDouble(col(vecCol)).as("v"))
          .withColumn("nrm", VectorFunctions.l2(col("v")))
        // the PQ-encoded search set: codes replace the vector payload
        val enc = v.select(col("id"),
          nearestCentroid(col("v"), coarse, 1)(0).as("cid"),
          pqEncode(col("v"), cbs).as("codes"))
        val queries = v.filter(col("id") % queryMod === 0)
          .select(col("id").as("q_id"), col("v").as("qv"),
            col("nrm").as("qn"),
            explode(nearestCentroid(col("v"), coarse,
              math.min(np, kc))).as("cid"))
        // FUSED ADC (r13): score straight from the packed codes —
        // dot bit-equal to dot(qv, PqDecode(codes)) with ZERO
        // per-candidate allocation, recon norm from the precomputed
        // per-codeword squared-norm table (subspace norms add). The
        // probe measured the decode-then-dot path CPU-bound at ~600
        // exec-CPU-s @100× — one 64-double allocation per candidate.
        //
        // EXPLICIT co-partitioning on cid (probe finding #2): the
        // scoring join's shuffle is byte-TINY (binary codes — 246 MB
        // @100×) but CPU-DENSE (~450M fused-ADC rows), and AQE's
        // byte-based advisory coalesced it to a handful of fat tasks
        // (task-skew 250–676, max task ~20 s, wall 2× the CPU/32
        // floor). Explicit-width repartitions are exempt from AQE
        // coalescing and satisfy the join's distribution requirement
        // on both sides, so the scorer runs at the session's full
        // width. The 100-TB shape: never let an advisory BYTE target
        // size a COMPUTE-bound stage.
        val scoreP = vecs.sparkSession.sparkContext.defaultParallelism
        val cand = queries.repartition(scoreP, col("cid"))
          .join(enc.repartition(scoreP, col("cid")), "cid")
          .where(col("q_id") =!= col("id"))
          .withColumn("approx", VectorFunctions.cosinePre(
            pqAdcDot(col("qv"), col("codes"), cbs),
            col("qn"), pqReconNorm(col("codes"), cbs)))
        // bounded shortlist (VERDICT r12 #3): a refineFactor·k-capped
        // heap aggregate replaces the per-query row_number sort over
        // the FULL candidate pool (~19k rows/query @100× — the
        // dominant cost of the old plan). Identical row set and tie
        // rule (approx desc, id asc); per-query state is O(m) and the
        // heap dies in the map-side partial, so the q_id exchange
        // carries ≤ m rows per query per map partition, not the pool.
        val short = cand.groupBy("q_id")
          .agg(Sketches.topkPairsCol(col("approx"), col("id"),
            refineFactor * k).as("picks"))
          .select(col("q_id"), explode(col("picks.id")).as("vec_id"))
        // query vectors rejoin via broadcast (|queries| rows — the
        // shortlist no longer drags qv/qn through the aggregate)
        val qvecs = v.filter(col("id") % queryMod === 0)
          .select(col("id").as("q_id"), col("v").as("qv"),
            col("nrm").as("qn"))
        val refined = short.join(broadcast(qvecs), "q_id").join(
          v.select(col("id").as("vec_id"), col("v"), col("nrm")), "vec_id")
        topK(refined.select(col("q_id"), col("vec_id"), col("qv"),
          col("qn"), col("v"), col("nrm")), k)
    }

  /** E1 as an operator: exact brute-force top-k — every query vector
    * (`idCol % queryMod == 0`) scored against the whole corpus, the
    * correctness baseline the approximate paths are measured against
    * (the *_check driver entries compute recall against it). Same
    * [[Guard]] stance as the exact pair baseline: O(|queries|·n)
    * scoring is opt-in above `maxRows`. Same `filterCol` NULL posture
    * as [[ivfTopK]]: a NULL-labeled query returns no neighbors. */
  def bruteForceTopK(vecs: DataFrame, idCol: String, vecCol: String,
                     k: Int = 10, queryMod: Int = 100,
                     maxRows: Long = 100000L,
                     allowAllPairs: Boolean = false,
                     filterCol: Option[String] = None): DataFrame = {
    val guarded = Guard.allPairsBaseline(vecs, maxRows, allowAllPairs,
      "Similarity.bruteForceTopK", "Similarity.lshTopK/ivfTopK")
    val fCols = filterCol.toSeq
    val v = Par.widen(guarded).select(
        col(idCol).as("id") +: VectorFunctions.asDouble(col(vecCol)).as("v")
          +: fCols.map(col): _*)
      .withColumn("nrm", VectorFunctions.l2(col("v")))
    val q = v.filter(col("id") % queryMod === 0)
      .select(col("id").as("q_id") +: col("v").as("qv")
        +: col("nrm").as("qn") +: fCols.map(c => col(c).as(s"q_$c")): _*)
    val cand = v.join(broadcast(q),
        filterCol.map(c => col(s"q_$c") === col(c))
          .foldLeft(col("q_id") =!= col("id"))(_ && _))
      .select(col("q_id"), col("id").as("vec_id"), col("qv"), col("qn"),
              col("v"), col("nrm"))
    topK(cand, k)
  }

  /** Exact cosine over a candidate set + deterministic per-query
    * top-k (rank by cosine desc, id asc). Shared with the persisted
    * [[IvfIndex]] search path (same verification protocol). */
  private[operators] def topK(cand: DataFrame, k: Int): DataFrame = {
    val cos = VectorFunctions.cosinePre(
      VectorFunctions.dot(col("qv"), col("v")), col("qn"), col("nrm"))
    cand.withColumn("cosine", round(cos, 4))
      .withColumn("rk", row_number().over(
        Window.partitionBy("q_id").orderBy(col("cosine").desc, col("vec_id"))))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("vec_id"), col("cosine"), col("rk").cast("long").as("rk"))
  }
}
