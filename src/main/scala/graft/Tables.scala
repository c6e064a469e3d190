package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, concat, expr, lit, raise_error, when}
import org.apache.spark.sql.types._

/** Parquet table loader for the driver-generated testdata layout
  * (`<dir>/<name>.parquet`). All queries go through here so scans stay
  * declarative and Catalyst can push filters/prunes into the file scan.
  *
  * The loader OWNS the data contract: it validates each table's schema
  * against [[contract]] (failing loud, naming table/column/actual type,
  * on drift) and normalizes every event-time column to a session-UTC
  * TIMESTAMP whatever its on-disk representation. The testdata has
  * shipped `events.ts` as TIMESTAMP(NANOS) (reads as long under
  * `nanosAsLong`) in one generation and as plain microsecond TIMESTAMP
  * (reads as TIMESTAMP_NTZ) in the next — downstream operators must
  * never see that difference, and a representation this loader does
  * not recognize must fail HERE with a named type, not 12 queries
  * later at analysis.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** On-disk representations accepted for an event-time column. */
  private val tsRepr: Seq[DataType] =
    Seq(TimestampType, TimestampNTZType, LongType)

  private def one(dt: DataType): Seq[DataType] = Seq(dt)

  /** Expected shape per table: column name → acceptable types
    * (nullability ignored). Event-time columns accept the three
    * representations the testdata has shipped; everything else is
    * pinned exactly. Extra columns are tolerated (additive drift
    * breaks nothing); missing or re-typed columns fail loud.
    */
  val contract: Map[String, Seq[(String, Seq[DataType])]] = Map(
    "region" -> Seq(
      "r_regionkey" -> one(IntegerType), "r_name" -> one(StringType)),
    "nation" -> Seq(
      "n_nationkey" -> one(IntegerType), "n_name" -> one(StringType),
      "n_regionkey" -> one(IntegerType)),
    "customer" -> Seq(
      "c_custkey" -> one(LongType), "c_name" -> one(StringType),
      "c_nationkey" -> one(IntegerType), "c_acctbal" -> one(DoubleType),
      "c_mktsegment" -> one(StringType)),
    "supplier" -> Seq(
      "s_suppkey" -> one(LongType), "s_name" -> one(StringType),
      "s_nationkey" -> one(IntegerType), "s_acctbal" -> one(DoubleType)),
    "part" -> Seq(
      "p_partkey" -> one(LongType), "p_name" -> one(StringType),
      "p_brand" -> one(StringType), "p_type" -> one(StringType),
      "p_size" -> one(IntegerType), "p_retailprice" -> one(DoubleType)),
    "orders" -> Seq(
      "o_orderkey" -> one(LongType), "o_custkey" -> one(LongType),
      "o_orderstatus" -> one(StringType), "o_totalprice" -> one(DoubleType),
      "o_orderdate" -> tsRepr, "o_orderpriority" -> one(StringType)),
    "lineitem" -> Seq(
      "l_orderkey" -> one(LongType), "l_partkey" -> one(LongType),
      "l_suppkey" -> one(LongType), "l_linenumber" -> one(IntegerType),
      "l_quantity" -> one(DoubleType), "l_extendedprice" -> one(DoubleType),
      "l_discount" -> one(DoubleType), "l_tax" -> one(DoubleType),
      "l_returnflag" -> one(StringType), "l_linestatus" -> one(StringType),
      "l_shipdate" -> tsRepr),
    "events" -> Seq(
      "event_id" -> one(LongType), "ts" -> tsRepr,
      "user_id" -> one(LongType), "event_type" -> one(StringType),
      "value" -> one(DoubleType), "props" -> one(StringType)),
    "documents" -> Seq(
      "doc_id" -> one(LongType), "text" -> one(StringType),
      "lang" -> one(StringType), "source" -> one(StringType),
      "n_chars" -> one(LongType)),
    "embeddings" -> Seq(
      "vec_id" -> one(LongType), "embedding" -> one(ArrayType(FloatType)),
      "label" -> one(IntegerType)))

  /** Event-time columns normalized by [[load]], per table. */
  val eventTimeCols: Map[String, Seq[String]] = Map(
    "events" -> Seq("ts"),
    "orders" -> Seq("o_orderdate"),
    "lineitem" -> Seq("l_shipdate"))

  /** Normalize one event-time column to TIMESTAMP, dispatching on the
    * type the scan actually produced:
    *   - `TIMESTAMP` — already the canonical form, untouched;
    *   - `TIMESTAMP_NTZ` — micros wall-clock; value-preserving cast
    *     under the pinned UTC session timezone;
    *   - `LONG` — TIMESTAMP(NANOS) read under `nanosAsLong`;
    *     floor-divide to micros (the same floor DuckDB's `epoch_us`
    *     applies), with a per-row plausibility guard: a non-null value
    *     outside epoch-NANOS range [1990, 2200) raises naming the
    *     table and column. A generation shipping epoch-micros or
    *     -millis as raw BIGINT (~1e15 / ~1e12 today, vs ~1e18 nanos)
    *     must fail loud here, not silently collapse timestamps 1000x —
    *     the exact failure class this loader exists to catch. The
    *     guard is a codegen'd row-local branch, no extra job.
    *   - anything else — fail loud naming table, column, and type.
    */
  def normalizeEventTime(df: DataFrame, table: String,
                         colName: String): DataFrame =
    df.schema(colName).dataType match {
      case TimestampType => df
      case TimestampNTZType =>
        df.withColumn(colName, col(colName).cast(TimestampType))
      case LongType =>
        val loNanos = 631152000000000000L   // 1990-01-01T00:00Z
        val hiNanos = 7258118400000000000L  // 2200-01-01T00:00Z
        df.withColumn(colName,
          when(col(colName).isNull, lit(null).cast(TimestampType))
            .when(col(colName).between(loNanos, hiNanos - 1),
              expr(s"timestamp_micros(`$colName` div 1000)"))
            .otherwise(raise_error(concat(
              lit(s"table `$table` column `$colName`: long value "),
              col(colName).cast(StringType),
              lit(" is outside plausible epoch-nanos range [1990, 2200)" +
                " — wrong unit (micros/millis as BIGINT)?")))
              .cast(TimestampType)))
      case other => throw new IllegalArgumentException(
        s"table `$table` column `$colName`: unsupported event-time type " +
          s"${other.simpleString} (expected timestamp, timestamp_ntz, or " +
          "nanos-as-long)")
    }

  /** Structural type equality ignoring nullability at every level (the
    * parquet writer's nullable flags are not part of the contract). */
  private def sameShape(a: DataType, b: DataType): Boolean = (a, b) match {
    case (ArrayType(ae, _), ArrayType(be, _)) => sameShape(ae, be)
    case (MapType(ak, av, _), MapType(bk, bv, _)) =>
      sameShape(ak, bk) && sameShape(av, bv)
    case (StructType(af), StructType(bf)) =>
      af.length == bf.length && af.zip(bf).forall { case (x, y) =>
        x.name == y.name && sameShape(x.dataType, y.dataType)
      }
    case _ => a == b
  }

  /** Validate a loaded schema against [[contract]]. Missing columns and
    * type drift throw with the table, column, expected, and actual
    * types named; extra columns pass (additive drift is harmless).
    */
  def validate(table: String, schema: StructType): Unit =
    contract.get(table).foreach { cols =>
      val byName = schema.fields.map(f => f.name -> f.dataType).toMap
      val problems = cols.flatMap { case (name, accepted) =>
        byName.get(name) match {
          case None =>
            Some(s"missing column `$name` (expected " +
              s"${accepted.map(_.simpleString).mkString(" | ")})")
          case Some(actual) if !accepted.exists(sameShape(_, actual)) =>
            Some(s"column `$name` has type ${actual.simpleString}, expected " +
              accepted.map(_.simpleString).mkString(" | "))
          case _ => None
        }
      }
      if (problems.nonEmpty) throw new IllegalArgumentException(
        s"table `$table` violates the data contract: " +
          problems.mkString("; ") +
          s"; actual schema: ${schema.simpleString}")
    }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    validate(name, df.schema)
    eventTimeCols.getOrElse(name, Nil)
      .foldLeft(df)((d, c) => normalizeEventTime(d, name, c))
  }
}
