package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Sketches, Similarity}
import graft.functions.VectorFunctions

/** Quality invariants for the hash-sketch family (D3/D4/E2/E3) against
  * exact ground truth on sf0.001. Bounds sit under measured values
  * (minhash 0.93, simhash 0.75, lsh 0.84, ivf 0.58) with margin —
  * the pipelines are deterministic except IVF's distributed-avg
  * centroid update (FP order), which moves recall by ±1 pair at most.
  */
class SketchSpec extends SparkSpec {

  private lazy val docs = Tables.load(spark, sfDir, "documents")
  private lazy val vecs = Tables.load(spark, sfDir, "embeddings")
  private lazy val truthPairs =
    Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5, 1000L).select("i", "j")

  test("topk checks: self-classifying regime verdict (exact vs saturated)") {
    // 12 users on type A (heavy hitter u1), 3 users on type B — the
    // same fixture drives both regimes through the capacity knob
    val s = spark
    import s.implicits._
    val rows = (1 to 12).flatMap(u => Seq.fill(if (u == 1) 5 else 1)(
        ("A", u.toLong))) ++ Seq(("B", 1L), ("B", 2L), ("B", 3L))
    val events = rows.zipWithIndex.map { case ((t, u), i) =>
      (i.toLong, t, u, 0.5 + u) }
      .toDF("event_id", "event_type", "user_id", "value")
    // cap 100 ≥ both types' distinct counts: exact regime, full verdict
    val ex = graft.queries.SketchQueries.topkStateCheck(events, cap = 100)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getBoolean(3), r.getBoolean(4)))
    assert(ex.toSeq == Seq(("A", "exact", 10L, true, true),
      ("B", "exact", 3L, true, true)), ex.toSeq.toString)
    // cap 10 < A's 12 distinct users (approx_top_k demands cap ≥ k =
    // 10): A saturates to the sentinel row, B (3 ≤ 10) keeps its
    // exact verdict — per-type classification
    val sat = graft.queries.SketchQueries.topkStateCheck(events, cap = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getBoolean(3), r.getBoolean(4)))
    assert(sat.toSeq == Seq(("A", "saturated", -1L, true, true),
      ("B", "exact", 3L, true, true)), sat.toSeq.toString)
    // weighted twin: exact regime = real rows, saturated = sentinels
    val exw = graft.queries.SketchQueries.topkWeightedEntry(events, cap = 100)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getString(3), r.getLong(4)))
    // A's top user by summed floor((0.5+u)*10000): u1 has 5 events of
    // w 15000 = 75000; u12 has one 125000 — u12 leads
    assert(exw.take(2).toSeq == Seq(
      ("A", "exact", 1L, "12", 125000L),
      ("A", "exact", 2L, "11", 115000L)), exw.toSeq.toString)
    assert(exw.forall(_._2 == "exact"))
    val satw = graft.queries.SketchQueries.topkWeightedEntry(events, cap = 4)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getString(3), r.getLong(4)))
    assert(satw.filter(_._1 == "A").forall(t =>
      t._2 == "saturated" && t._4 == "(saturated)" && t._5 == -1L),
      satw.toSeq.toString)
    assert(satw.filter(_._1 == "B").forall(_._2 == "exact"))
  }

  test("minhash-LSH recall vs exact jaccard pairs >= 0.85") {
    val got = Sketches.minhashLsh(docs, "doc_id", "text").select("i", "j")
    val t = truthPairs.count().toDouble
    assert(t > 0)
    val recall = truthPairs.intersect(got).count() / t
    assert(recall >= 0.85, s"minhash recall $recall")
  }

  test("incremental minhash against a corpus == the full op's cross pairs") {
    // batch = every 10th doc, history = the rest: the incremental
    // operator must find exactly the batch↔history pairs the full
    // union run finds (no bucket caps bind at this SF), whether the
    // history signatures are computed inline or PRECOMPUTED (the
    // persisted-signature daily-ingest path)
    val isNew = col("doc_id") % 10 === 0
    val batch = docs.filter(isNew)
    val history = docs.filter(!isNew)
    val full = Sketches.minhashLsh(docs, "doc_id", "text")
    val cross = full.filter((col("i") % 10 === 0) =!= (col("j") % 10 === 0))
      .select(
        when(col("i") % 10 === 0, col("i")).otherwise(col("j")).as("i"),
        when(col("i") % 10 === 0, col("j")).otherwise(col("i")).as("j"),
        col("sig_sim"))
    val inc = Sketches.minhashLshAgainst(batch, history, "doc_id", "text")
    assert(inc.count() > 0, "test split produced no cross pairs")
    assert(inc.exceptAll(cross).count() == 0 &&
           cross.exceptAll(inc).count() == 0,
      "incremental dedup diverged from the full run's cross pairs")
    val pre = Sketches.minhashSignatures(history, "doc_id", "text", 3, 16)
    val incPre = Sketches.minhashLshAgainst(batch, history, "doc_id", "text",
      corpusSigs = Some(pre))
    assert(incPre.exceptAll(inc).count() == 0 &&
           inc.exceptAll(incPre).count() == 0,
      "precomputed-signature path diverged from the inline path")
  }

  test("incremental simhash against a corpus == the full op's cross pairs exactly") {
    // lossless banding ⇒ EXACT equality with the union run's cross
    // pairs (unlike the minhash twin there is no estimator noise)
    val isNew = col("doc_id") % 10 === 0
    val full = Sketches.simhashPairs(docs, "doc_id", "text")
    val cross = full.filter((col("i") % 10 === 0) =!= (col("j") % 10 === 0))
      .select(
        when(col("i") % 10 === 0, col("i")).otherwise(col("j")).as("i"),
        when(col("i") % 10 === 0, col("j")).otherwise(col("i")).as("j"),
        col("hamming"))
    val inc = Sketches.simhashPairsAgainst(
      docs.filter(isNew), docs.filter(!isNew), "doc_id", "text")
    assert(full.count() > 0, "corpus must contain simhash near-dups")
    assert(inc.exceptAll(cross).count() == 0 &&
           cross.exceptAll(inc).count() == 0,
      "incremental simhash diverged from the full run's cross pairs")
    // the persisted-sketch path (one long per doc carried run-over-run)
    val pre = Sketches.simhashSketch(docs.filter(!isNew), "doc_id", "text")
    val incPre = Sketches.simhashPairsAgainst(
      docs.filter(isNew), docs.filter(!isNew), "doc_id", "text",
      corpusSketches = Some(pre))
    assert(incPre.exceptAll(inc).count() == 0 &&
           inc.exceptAll(incPre).count() == 0)
  }

  test("simhash hamming bands are lossless for maxHamming <= 3") {
    val sk = Sketches.simhashSketch(docs, "doc_id", "text")
    val a = sk.select(col("doc_id").as("i"), col("simhash").as("si"))
    val b = sk.select(col("doc_id").as("j"), col("simhash").as("sj"))
    val brute = a.join(b, col("i") < col("j"))
      .withColumn("hamming", bit_count(col("si").bitwiseXOR(col("sj"))))
      .filter(col("hamming") <= 3)
      .select("i", "j")
    val banded = Sketches.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .select("i", "j")
    assert(brute.exceptAll(banded).count() == 0, "banded candidates missed a pair")
    assert(banded.exceptAll(brute).count() == 0, "banded produced a non-qualifying pair")
  }

  test("simhash recall vs exact jaccard pairs >= 0.6") {
    val got = Sketches.simhashPairs(docs, "doc_id", "text").select("i", "j")
    val t = truthPairs.count().toDouble
    val recall = truthPairs.intersect(got).count() / t
    assert(recall >= 0.6, s"simhash recall $recall")
  }

  private lazy val bruteTop10 = {
    val v = vecs.select(col("vec_id"), VectorFunctions.asDouble(col("embedding")).as("v"))
    val q = v.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    q.join(v, col("q_id") =!= col("vec_id"))
      .withColumn("cosine", VectorFunctions.cosine(col("qv"), col("v")))
      .withColumn("rk", row_number().over(
        Window.partitionBy("q_id").orderBy(col("cosine").desc, col("vec_id"))))
      .filter(col("rk") <= 10)
      .select("q_id", "vec_id")
  }

  test("LSH ANN recall@10 vs brute force >= 0.75, exactly k rows per query") {
    // pinned tables/bits FORCE the LSH plan: auto mode cost-falls-back
    // to brute force at this corpus size (strictly less work, recall 1)
    val got = Similarity.lshTopK(vecs, "vec_id", "embedding",
      tables = Some(16), bits = Some(4))
    val perQ = got.groupBy("q_id").count().agg(min("count"), max("count")).head()
    assert(perQ.getLong(0) == 10 && perQ.getLong(1) == 10)
    val t = bruteTop10.count().toDouble
    val recall = bruteTop10.intersect(got.select("q_id", "vec_id")).count() / t
    assert(recall >= 0.75, s"lsh recall $recall")
  }

  test("IVF ANN recall@10 vs brute force >= 0.6, exactly k rows per query") {
    // measured 0.74 at nprobe=6 on near-random vectors (the hardest
    // case for IVF — real embedding corpora cluster far better)
    val got = Similarity.ivfTopK(vecs, "vec_id", "embedding")
    val perQ = got.groupBy("q_id").count().agg(min("count"), max("count")).head()
    assert(perQ.getLong(0) == 10 && perQ.getLong(1) == 10)
    val t = bruteTop10.count().toDouble
    val recall = bruteTop10.intersect(got.select("q_id", "vec_id")).count() / t
    assert(recall >= 0.6, s"ivf recall $recall")
  }

  test("filtered ANN: label filter is structural, full probe is exhaustive") {
    // every result must share the query's label (the join carries
    // q_label === label — a cross-label row is impossible by
    // construction, pinned here); at nprobe = nCentroids the probed
    // set is the whole corpus, so filtered IVF == filtered brute
    // force exactly; a query whose label has no other member
    // returns nothing.
    val got = Similarity.ivfTopK(vecs, "vec_id", "embedding",
      nCentroids = Some(8), nprobe = Some(8), fitSamplePct = Some(100),
      filterCol = Some("label"))
    val labels = vecs.select(col("vec_id"), col("label"))
    val cross = got
      .join(labels.select(col("vec_id").as("q_id"), col("label").as("ql")), "q_id")
      .join(labels, "vec_id")
      .filter(col("ql") =!= col("label")).count()
    assert(cross == 0, s"cross-label results: $cross")
    val exact = Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
      filterCol = Some("label"))
    val diff = got.exceptAll(exact).count() + exact.exceptAll(got).count()
    assert(diff == 0, s"full-probe filtered IVF must equal filtered brute force, diff=$diff")
    // unique-label query drops out on both sides
    val s2 = spark
    import s2.implicits._
    val lonely = vecs.select(col("vec_id"), col("embedding"),
        when(col("vec_id") === 0, lit(999)).otherwise(lit(1)).as("label"))
    val g2 = Similarity.ivfTopK(lonely, "vec_id", "embedding",
      nCentroids = Some(8), nprobe = Some(8), fitSamplePct = Some(100),
      filterCol = Some("label"))
    assert(g2.filter(col("q_id") === 0).count() == 0,
      "a query alone in its label must return no rows")
  }

  test("int8 quantization: bounded reconstruction error, high cosine fidelity") {
    val v = vecs.select(col("vec_id"), VectorFunctions.asDouble(col("embedding")).as("v"))
      .withColumn("qv", VectorFunctions.quantizeInt8(col("v")))
      .withColumn("r", VectorFunctions.dequantizeInt8(col("qv")))
    // per-component error <= scale/2 (+ fp eps): the symmetric-rounding bound
    val bad = v.filter(exists(zip_with(col("v"), col("r"), (a, b) => abs(a - b)),
      e => e > col("qv.scale").cast("double") / 2 + lit(1e-9))).count()
    assert(bad == 0, s"$bad vectors exceed the scale/2 error bound")
    // cosine(original, reconstructed) stays near 1 on every vector
    val minCos = v.select(min(VectorFunctions.cosine(col("v"), col("r")))).head().getDouble(0)
    assert(minCos >= 0.995, s"min reconstruction cosine $minCos")
    // codes actually fit int8
    val outOfRange = v.filter(exists(col("qv.q"),
      q => q.cast("int") > 127 || q.cast("int") < -127)).count()
    assert(outOfRange == 0)
  }

  test("quantized search recall vs exact threshold search >= 0.9") {
    val exact = SparkEntry.queries("sim_bruteforce_topk")(spark, sfDir)
      .select("q_id", "vec_id")
    val quant = SparkEntry.queries("sim_quantized_topk")(spark, sfDir)
      .select("q_id", "vec_id")
    val t = exact.count().toDouble
    assert(t > 0)
    val recall = exact.intersect(quant).count() / t
    assert(recall >= 0.9, s"quantized recall $recall")
  }

  test("embedding LSH dedup: exact-verified subset of D5, recall >= 0.8") {
    val exact = Dedup.embeddingPairs(vecs, "vec_id", "embedding", 0.4)
    // pinned: auto mode cost-falls-back to the exact baseline here
    val lsh = Dedup.embeddingPairsLsh(vecs, "vec_id", "embedding", 0.4,
      tables = Some(16), bits = Some(4))
    // precision 1.0: every candidate is exactly scored, so the LSH
    // result (ids AND cosine values) is a strict subset of the
    // all-pairs baseline
    assert(lsh.exceptAll(exact).count() == 0,
      "LSH produced a pair/score absent from the exact baseline")
    val t = exact.count().toDouble
    assert(t > 0)
    val recall = exact.select("i", "j")
      .intersect(lsh.select("i", "j")).count() / t
    assert(recall >= 0.8, s"embedding LSH dedup recall $recall")
  }

  test("all-pairs baselines refuse oversized inputs unless opted in") {
    val err = intercept[IllegalArgumentException] {
      Dedup.embeddingPairs(vecs, "vec_id", "embedding", 0.4, maxRows = 100)
        .count()
    }
    assert(err.getMessage.contains("allowAllPairs"),
      s"guard message should name the opt-in: ${err.getMessage}")
    // explicit opt-in still runs the exact baseline
    val n = Dedup.embeddingPairs(vecs, "vec_id", "embedding", 0.4,
      maxRows = 100, allowAllPairs = true).count()
    assert(n > 0)
  }

  test("exact-dedup bloom screen: no false negatives, bounded false positives") {
    val path = java.nio.file.Files.createTempDirectory("graft_bloom")
      .resolve("bloom.bin").toString
    val history = docs.filter(col("doc_id") % 2 === 0)
    Sketches.buildExactBloom(history, "text", path)
    val screened = Sketches.screenExactBloom(docs, "text", path)
    val histTexts = history.select("text").distinct()
    // Bloom guarantee: a fingerprint that was inserted is ALWAYS hit —
    // zero rows with history text may pass unflagged
    assert(screened.filter(!col("maybe_dup"))
      .join(histTexts, Seq("text"), "left_semi").count() == 0,
      "bloom screen missed a true duplicate")
    // genuinely-new texts flag at ~the build fpp (0.01); allow 5x +
    // slack for small-sample variance
    val clean = screened.join(histTexts, Seq("text"), "left_anti")
    val n = clean.count()
    val fp = clean.filter(col("maybe_dup")).count()
    assert(fp <= math.max(5L, (0.05 * n).toLong),
      s"false-positive rate out of bound: $fp of $n clean docs flagged")
    // a rebuilt filter round-trips through its staged-rename persist
    Sketches.buildExactBloom(history, "text", path)
    assert(Sketches.screenExactBloom(docs, "text", path)
      .filter(!col("maybe_dup"))
      .join(histTexts, Seq("text"), "left_semi").count() == 0)
  }

  test("bloom filter survives a publish interrupted between its renames") {
    val path = java.nio.file.Files.createTempDirectory("graft_bloomcrash")
      .resolve("bloom.bin").toString
    val history = docs.filter(col("doc_id") % 2 === 0)
    val cap = Sketches.buildExactBloom(history, "text", path)
    def flagged() = Sketches.screenExactBloom(docs, "text", path)
      .filter(col("maybe_dup")).select(col("doc_id").cast("string"))
      .collect().map(_.getString(0)).sorted.toSeq
    val before = flagged()
    assert(before.nonEmpty)
    // crash between the two renames of a merge's publish: the live
    // filter sits at its backup name, a torn stage is left behind
    val live = new org.apache.hadoop.fs.Path(path)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val backup = new org.apache.hadoop.fs.Path(live.getParent,
      "_graft_prev_bloom.bin")
    val staged = new org.apache.hadoop.fs.Path(live.getParent,
      ".bloom.bin.staging")
    assert(fs.rename(live, backup))
    val out = fs.create(staged, true)
    try out.write(Array[Byte](1, 2, 3)) finally out.close()
    assert(flagged() == before, "recovered filter flags differently")
    Sketches.mergeExactBloom(docs.filter(col("doc_id") % 2 === 1), "text",
      path, capacityItems = cap)
    assert(fs.exists(live) && !fs.exists(backup) && !fs.exists(staged))
    assert(Sketches.screenExactBloom(docs, "text", path)
      .filter(!col("maybe_dup")).count() == 0,
      "merged filter misses a document it was given")
  }

  test("bloom merge with mismatched sizing fails loud, not silently") {
    val path = java.nio.file.Files.createTempDirectory("graft_bloommis")
      .resolve("bloom.bin").toString
    Sketches.buildExactBloom(docs.limit(10), "text", path,
      expectedItems = Some(1000L))
    // a filter appended with different capacity has different
    // bits/hash counts — merging would silently corrupt membership;
    // the sketch layer must refuse
    intercept[Exception] {
      Sketches.mergeExactBloom(docs.limit(10), "text", path,
        capacityItems = 50000L)
    }
  }

  test("ANN candidates report exact cosine values") {
    // every (q, vec) the LSH path returns must carry the same cosine
    // as direct computation — the approximation is only in WHICH
    // candidates are scored, never in the score itself
    val got = Similarity.lshTopK(vecs, "vec_id", "embedding",
      tables = Some(16), bits = Some(4))
    val v = vecs.select(col("vec_id"), VectorFunctions.asDouble(col("embedding")).as("v"))
    val joined = got
      .join(v.select(col("vec_id").as("q_id"), col("v").as("qv")), "q_id")
      .join(v, "vec_id")
      .withColumn("exact", round(VectorFunctions.cosine(col("qv"), col("v")), 4))
    assert(joined.filter(abs(col("cosine") - col("exact")) > 1e-9).count() == 0)
  }

  test("exact kmeans: hand fixture pins tie rule, empty-cluster keep, movement") {
    import spark.implicits._
    // v0 = v1 = 0.0 (duplicate → init c0 = c1 = [0], every point TIES
    // → lowest cid wins → c1 empties and must KEEP its centroid),
    // v2 = 0.5. Round 1: all → cid 0; c0 ← floor((0+0+5000)/3) = 1666,
    // c1 stays [0]. Round 2: v0/v1 dist 1666² to c0 vs 0 to c1 → cid 1;
    // v2 dist 3334² < 5000² → cid 0.
    val vecs = Seq(0L -> Array(0.0f), 1L -> Array(0.0f), 2L -> Array(0.5f))
      .toDF("vec_id", "embedding")
    val got = Similarity.kmeansExact(vecs, "vec_id", "embedding",
        k = 2, rounds = 2)
      .orderBy("vec_id").collect().map(r => r.getLong(0) -> r.getInt(1))
    assert(got.toSeq == Seq(0L -> 1, 1L -> 1, 2L -> 0))
  }

  test("pca power: dominant planted axis wins, sign pinned, repartition-proof") {
    import spark.implicits._
    // 20 vectors strongly along axis 1 (+ small axis-0 noise), 2 weak
    // on axis 2: the top principal direction must concentrate on
    // axis 1 with POSITIVE sign (v0 = all-ones pins it).
    val rows = (0 until 20).map(i =>
        i.toLong -> Array(0.01f * (i % 3), 1.0f, 0.0f)) ++
      Seq(20L -> Array(0.0f, 0.0f, 0.3f), 21L -> Array(0.0f, 0.0f, 0.2f))
    val df = rows.toDF("vec_id", "embedding")
    val v = Similarity.pcaPowerExact(df, "embedding")
      .orderBy("pos").collect().map(_.getLong(1))
    assert(v(1) > 0, s"sign not pinned positive: ${v.toSeq}")
    assert(math.abs(v(1)) > 10 * math.abs(v(2)) &&
      math.abs(v(1)) > 10 * math.abs(v(0)), s"axis 1 not dominant: ${v.toSeq}")
    // deterministic under partitioning (integer Gram agg is exact)
    val again = Similarity.pcaPowerExact(df.repartition(7), "embedding")
      .orderBy("pos").collect().map(_.getLong(1))
    assert(v.toSeq == again.toSeq)
  }

  test("exact kmeans: k = 1 assigns everything to cid 0 (ADVICE r13)") {
    import spark.implicits._
    // least() needs ≥ 2 args — k = 1 used to throw AnalysisException
    val rows = Seq(0L -> Array(0.0f, 0.1f), 1L -> Array(0.9f, 0.2f))
    val got = Similarity.kmeansExact(rows.toDF("vec_id", "embedding"),
        "vec_id", "embedding", k = 1, rounds = 2)
      .orderBy("vec_id").collect().map(r => r.getLong(0) -> r.getInt(1))
    assert(got.toSeq == Seq(0L -> 0, 1L -> 0))
  }

  test("exact kmeans: separated clusters land on the obvious partition") {
    import spark.implicits._
    val a = Seq(0.0f, 0.01f, 0.02f) // near origin
    val b = Seq(1.0f, 0.99f, 0.98f) // near one
    val rows = Seq(
      0L -> Array(a(0), a(0)), 1L -> Array(b(0), b(0)),
      2L -> Array(a(1), a(0)), 3L -> Array(b(1), b(0)),
      4L -> Array(a(2), a(1)), 5L -> Array(b(0), b(2)))
    val got = Similarity.kmeansExact(rows.toDF("vec_id", "embedding"),
        "vec_id", "embedding", k = 2, rounds = 3)
      .orderBy("vec_id").collect().map(_.getInt(1)).toSeq
    assert(got == Seq(0, 1, 0, 1, 0, 1))
  }

  test("exact kmeans: result is invariant under input partitioning") {
    val base = Similarity.kmeansExact(vecs, "vec_id", "embedding")
    val repart = Similarity.kmeansExact(vecs.repartition(7),
      "vec_id", "embedding")
    assert(base.exceptAll(repart).isEmpty && repart.exceptAll(base).isEmpty)
    // sanity: uses all 8 clusters on the real corpus
    assert(base.select("cid").distinct().count() == 8)
  }

  test("cluster sample: exact per-cluster quota, ids carry their own cluster") {
    val sample = Similarity.clusterSample(vecs, "vec_id", "embedding",
      perCluster = 5)
    val assigned = Similarity.kmeansExact(vecs, "vec_id", "embedding")
    val sizes = assigned.groupBy("cid").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val got = sample.groupBy("cid").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    // every cluster contributes exactly min(quota, |cluster|) rows
    assert(sizes.keySet == got.keySet)
    sizes.foreach { case (cid, n) => assert(got(cid) == math.min(5L, n)) }
    // each sampled id is labeled with ITS kmeans cluster (the sample
    // is a sub-selection of the assignment, not a re-clustering)
    assert(sample.select("vec_id", "cid")
      .exceptAll(assigned.select("vec_id", "cid")).isEmpty)
    // ranks are 1..quota per cluster and the draw is repartition-proof
    assert(sample.filter(col("rk") < 1 || col("rk") > 5).count() == 0)
    val re = Similarity.clusterSample(vecs.repartition(7), "vec_id",
      "embedding", perCluster = 5)
    assert(sample.exceptAll(re).isEmpty && re.exceptAll(sample).isEmpty)
  }

  test("incremental planted check: plant split + orientation bind a real pair") {
    // a miniature --plant-text-dups pack: the original (history side)
    // and its verbatim copy at +5e8 (batch side) must be recalled and
    // the truth must count exactly that one pair — pinning both the
    // plant-id batch/history split and the (orig, plant) orientation
    // flip the entry does (SketchQueries dedup_incremental_planted_check)
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_planted_fix").toString
    Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta", "en", "web", 8L),
      (100L + 500000000L,
        "alpha beta gamma delta epsilon zeta eta theta", "en", "web", 8L),
      (7L, "totally different words in this other document here", "en", "web", 9L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val row = SparkEntry.queries("dedup_incremental_planted_check")(spark, dir)
      .collect()(0)
    assert(row.getAs[Long]("exact_pairs") == 1L)
    assert(row.getAs[Boolean]("recall_ok"))
  }
}
