package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** `s` as a JSON string literal: backslash, quote and every control
    * char (<0x20) escaped. A tab or CR in an entry's oracle SQL or an
    * error message would otherwise make a reader's json.load fail.
    * Bench and graft.Harness write their JSON through it too. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // SPARK_GRAFT_ONLY=a,b,c — dump only the named queries (unset:
    // the full pack). oracle_sql.json is filtered to match so the
    // local checker only compares what ran.
    val selected = SparkEntry.selectedEntries().toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.create(s"local[$cpus]", cpus)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => selected(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // End-of-pass cache hygiene (VERDICT r9 #7): operators pin
    // loop-invariant relations with caller-owned cleanup, and across
    // a full pack the plan-keyed entries are deliberately REUSED
    // between entries sharing a graph (scoping the release per entry
    // would forfeit that). The pass is the owner, so it releases
    // everything once, here — zero residual cached relations.
    spark.catalog.clearCache()
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected(k) }
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Declared rows-only entries (VERDICT r7 #8): queries with no
    // oracle SQL are BY-DESIGN rows-only — each is a raw sketch/sample
    // operator whose hash-based output is not SQL-expressible, and
    // each has a paired oracle-checked `*_check` twin that verifies
    // its contract. Emit the declaration next to oracle_sql.json so a
    // correctness report can distinguish "no oracle by design, see
    // twin" from a genuinely unverified entry.
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    val twins = Map(
      "dedup_minhash_lsh" -> "dedup_minhash_lsh_check",
      "dedup_simhash" -> "dedup_simhash_check",
      "dedup_embedding_lsh" -> "dedup_embedding_lsh_check",
      "dedup_semantic" -> "dedup_semantic_check",
      "dedup_incremental" -> "dedup_incremental_check",
      "sim_lsh_ann" -> "sim_lsh_ann_check",
      "sim_ivf_ann" -> "sim_ivf_ann_check",
      "sim_quantized_topk" -> "sim_quantized_check",
      "sim_filtered_ann" -> "sim_filtered_ann_check",
      "sim_ivfpq" -> "sim_ivfpq_check",
      "sample_rand" -> "sample_rand_check")
    val roJson = rowsOnly.toSeq.sorted.map { k =>
      s"${jsonString(k)}: {${jsonString("rows_only")}: true, ${jsonString("oracle_twin")}: ${jsonString(twins.getOrElse(k, ""))}}"
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/rows_only.json"), roJson)
    spark.stop()
  }
}
