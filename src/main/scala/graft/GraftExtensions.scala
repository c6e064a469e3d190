package graft

import org.apache.spark.sql.{GraftExpressionBridge, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, If, IsNull, Literal, XxHash64}
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType, StringType}
import graft.functions.{CountMinAgg, CountMinEstimate, CountMinMerge, DotProduct, SimHash64, TopKWeighted, UniqUpTo}

/** SQL registration of graft's native expressions, so pure-SQL users
  * (spark.sql, thriftserver, SQL files) get the same codegen'd kernels
  * as the DataFrame API.
  *
  * Two wire-ups:
  *  - at session build: `.withExtensions(new GraftExtensions)` or
  *    `.config("spark.sql.extensions", "graft.GraftExtensions")`;
  *  - on a live session (the driver hands graft an already-built
  *    session): `GraftExtensions.register(spark)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, info, builder) =>
      ext.injectFunction((new FunctionIdentifier(name), info, builder))
    }
}

object GraftExtensions {

  /** (name, info, builder) triples for every exported function. */
  val functions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("dot_product",
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "dot_product(arrayA, arrayB)")
        DotProduct(Cast(args.head, ArrayType(DoubleType)),
                   Cast(args(1), ArrayType(DoubleType)))
      }),
    ("cosine_sim",
      new ExpressionInfo(classOf[DotProduct].getName, "cosine_sim"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "cosine_sim(arrayA, arrayB)")
        import org.apache.spark.sql.catalyst.expressions.{Divide, EvalMode, Multiply, Sqrt}
        val a = Cast(args.head, ArrayType(DoubleType))
        val b = Cast(args(1), ArrayType(DoubleType))
        // zero-norm guard: under Spark 4's default ANSI mode a /0.0
        // throws and would kill the whole query on one degenerate
        // (all-zero) vector; TRY-mode division yields NULL instead,
        // and unlike a NullIf guard it evaluates each operand once
        Divide(DotProduct(a, b),
               Multiply(Sqrt(DotProduct(a, a)), Sqrt(DotProduct(b, b))),
               EvalMode.TRY)
      }),
    ("simhash64",
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "simhash64(arrayOfTokens)")
        SimHash64(Cast(args.head, ArrayType(StringType)))
      }),
    ("uniq_upto",
      new ExpressionInfo(classOf[UniqUpTo].getName, "uniq_upto"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "uniq_upto(value, n)")
        // values are pre-hashed to 64 bits (nulls pass through and the
        // aggregate skips them — xxhash64 alone would hash a null to
        // the bare seed and count a phantom item)
        UniqUpTo(hashedOrNull(args.head), intLiteral(args(1), "uniq_upto: n"))
      }),
    ("topk_weighted",
      new ExpressionInfo(classOf[TopKWeighted].getName, "topk_weighted"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "topk_weighted(item, weight, capacity)")
        TopKWeighted(Cast(args.head, StringType), Cast(args(1), LongType),
          intLiteral(args(2), "topk_weighted: capacity"))
      }),
    ("cms_agg",
      new ExpressionInfo(classOf[CountMinAgg].getName, "cms_agg"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "cms_agg(value, depth, width)")
        CountMinAgg(hashedOrNull(args.head),
          intLiteral(args(1), "cms_agg: depth"),
          intLiteral(args(2), "cms_agg: width"))
      }),
    ("cms_merge",
      new ExpressionInfo(classOf[CountMinMerge].getName, "cms_merge"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "cms_merge(state)")
        CountMinMerge(args.head)
      }),
    ("cms_query",
      new ExpressionInfo(classOf[CountMinEstimate].getName, "cms_query"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "cms_query(state, value)")
        CountMinEstimate(args.head, hashedOrNull(args(1)))
      }))

  /** Pre-hash a value to 64 bits for [[UniqUpTo]] and the count-min
    * aggregates, keeping nulls null (xxhash64 alone hashes a null to
    * the bare seed, a phantom item). The SQL functions here and the
    * Column forms in [[graft.operators.Sketches]] share it. */
  private[graft] def hashedOrNull(e: Expression): Expression =
    If(IsNull(e), Literal(null, LongType), XxHash64(Seq(e), 42L))

  private def intLiteral(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case Literal(v: Long, LongType) =>
      try Math.toIntExact(v) catch {
        case _: ArithmeticException => throw new IllegalArgumentException(
          s"$what must fit in an Int, got $v")
      }
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  /** Register everything on an existing session. */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (name, info, builder) =>
      GraftExpressionBridge.registerFunction(spark, name, info, builder)
    }
}
