package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Query implementations live in graft.queries.* packs, one per
  * SURVEY.md §2 family; this object is just the aggregation point.
  */
object SparkEntry {

  private val packs: Seq[QueryPack] = Seq(
    CdcQueries, GraphQueries, OlapQueries,
    CdcJsonQueries, TextQueries, DedupQueries, SimilarityQueries,
    SketchQueries, PipelineQueries, CorpusQueries)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. The end-to-end corpus-curation pipeline (quality filter →
    * exact dedup → split accounting) — the composed shape this engine
    * exists for. */
  def entry(spark: SparkSession): DataFrame =
    CorpusQueries.queries("corpus_curate")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    packs.flatMap(_.queries).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    packs.flatMap(_.oracles).toMap

  /** Verification entries (run an operator AND its exact baseline) —
    * the bench reports their time apart from operator time. */
  def checkNames: Set[String] =
    packs.flatMap(_.checks).toSet ++ queries.keySet.filter(_.endsWith("_check"))

  /** Entries that run the Structured Streaming engine in the timed
    * path — benched apart as `stream_secs` (engine startup dominates). */
  def streamNames: Set[String] = packs.flatMap(_.streams).toSet

  /** The environment variable naming the entries a main runs:
    * `SPARK_GRAFT_ONLY=a,b,c` (a local iteration aid — the driver
    * never sets it). */
  val OnlyEnv = "SPARK_GRAFT_ONLY"

  /** The entries a main runs, given the [[OnlyEnv]] value: every
    * entry (sorted) when it is unset, else the listed names in order,
    * items trimmed and blank items dropped. A name that is no entry
    * throws, naming it, and so does a list that names none: either
    * would otherwise run nothing and report a clean pass. */
  def selectedEntries(only: Option[String] = sys.env.get(OnlyEnv)): Seq[String] =
    only match {
      case None => queries.keys.toSeq.sorted
      case Some(spec) =>
        val names = spec.split(",").map(_.trim).filter(_.nonEmpty).toSeq.distinct
        val bad = names.filterNot(queries.contains)
        if (bad.nonEmpty)
          throw new IllegalArgumentException(s"$OnlyEnv: unknown entr" +
            s"${if (bad.size == 1) "y" else "ies"} ${bad.mkString(", ")}" +
            " (valid names are the SparkEntry.queries keys)")
        if (names.isEmpty)
          throw new IllegalArgumentException(s"$OnlyEnv='$spec' names no entry")
        names
    }
}
