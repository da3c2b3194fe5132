package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Literal}
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

/** Registration + Column-facing access (Spark 4 Columns wrap ColumnNodes, so
  * custom expressions surface through the function registry + call_function).
  * [[all]] is the one native-function table: [[register]] installs it into a
  * session, and [[graft.GraftExtensions]] injects the same entries.
  */
object GraftFunctions {

  /** One native function: SQL name, expression class (for ExpressionInfo),
    * and the builder the analyzer calls with the argument expressions. */
  private[graft] final case class NativeFunction(
      name: String, exprClass: Class[_ <: Expression],
      builder: Seq[Expression] => Expression)

  /** Widen a numeric array argument to array<double> so callers can pass
    * e.g. array<int>. float and double arrays pass through untouched —
    * CosineSimilarity reads float elements natively (in-register widening),
    * no per-row cast allocation. */
  private[graft] def asNumericArray(e: Expression): Expression = e.dataType match {
    case ArrayType(DoubleType, _) | ArrayType(FloatType, _) => e
    case ArrayType(_, containsNull) => Cast(e, ArrayType(DoubleType, containsNull))
    case _ => e // leave as-is; checkInputDataTypes reports the clear error
  }

  private def literalInt(name: String, e: Expression, arg: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$name requires a literal integer for $arg, got $other")
  }

  /** A table entry whose builder first checks the argument count. */
  private def fn(name: String, exprClass: Class[_ <: Expression], arity: Int)(
      build: Seq[Expression] => Expression): NativeFunction =
    NativeFunction(name, exprClass, exprs => {
      if (exprs.length != arity) throw new IllegalArgumentException(
        s"$name requires exactly $arity arguments, got ${exprs.length}")
      build(exprs)
    })

  private[graft] val all: Seq[NativeFunction] = Seq(
    fn("graft_cosine", classOf[CosineSimilarity], 2)(e =>
      CosineSimilarity(asNumericArray(e(0)), asNumericArray(e(1)))),
    fn("graft_jaccard_sorted", classOf[JaccardSorted], 2)(e => JaccardSorted(e(0), e(1))),
    fn("graft_intersect_sorted", classOf[IntersectSorted], 2)(e => IntersectSorted(e(0), e(1))),
    fn("graft_minhash_bands", classOf[MinHashBands], 3)(e => MinHashBands(e(0),
      literalInt("graft_minhash_bands", e(1), "k"),
      literalInt("graft_minhash_bands", e(2), "bands"))),
    fn("graft_rolling_hash", classOf[RollingHash], 1)(e => RollingHash(e(0))),
    fn("graft_shingles", classOf[NgramShingles], 2)(e =>
      NgramShingles(e(0), literalInt("graft_shingles", e(1), "n"))),
    fn("graft_simhash64", classOf[SimHash64], 1)(e => SimHash64(e(0))),
    fn("graft_max_run", classOf[MaxRunLength], 1)(e => MaxRunLength(e(0))),
    fn("graft_jaro_winkler", classOf[JaroWinkler], 2)(e => JaroWinkler(e(0), e(1))),
    fn("graft_l2sq", classOf[L2SqLong], 2)(e => L2SqLong(e(0), e(1))),
    fn("graft_dotl", classOf[DotLong], 2)(e => DotLong(e(0), e(1))))

  def register(spark: SparkSession): Unit =
    all.foreach { f =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        f.name, f.builder, "built-in")
    }
}
