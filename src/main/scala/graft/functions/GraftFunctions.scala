package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SQL surface for the engine's native expressions: register them on
  * a live session with `GraftFunctions.register(spark)`. */
object GraftFunctions {
  private val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(
      (
        FunctionIdentifier("float_dot"),
        new ExpressionInfo(classOf[FloatDotProduct].getName, "float_dot"),
        (exprs: Seq[Expression]) => FloatDotProduct(exprs(0), exprs(1))),
      (
        FunctionIdentifier("word_shingles"),
        new ExpressionInfo(classOf[WordShingles].getName, "word_shingles"),
        (exprs: Seq[Expression]) => {
          WordShingles(exprs(0), litInt(exprs(1), "word_shingles(text, n): n"))
        }),
      (
        FunctionIdentifier("float_l2sq"),
        new ExpressionInfo(classOf[FloatL2Sq].getName, "float_l2sq"),
        (exprs: Seq[Expression]) => FloatL2Sq(exprs(0), exprs(1))),
      (
        FunctionIdentifier("jaro_winkler"),
        new ExpressionInfo(classOf[JaroWinkler].getName, "jaro_winkler"),
        (exprs: Seq[Expression]) => JaroWinkler(exprs(0), exprs(1))),
      (
        FunctionIdentifier("rolling_token_hashes"),
        new ExpressionInfo(classOf[RollingTokenHashes].getName, "rolling_token_hashes"),
        (exprs: Seq[Expression]) => RollingTokenHashes(
          exprs(0),
          litInt(exprs(1), "rolling_token_hashes(text, k, b, p): k"),
          litLong(exprs(2), "rolling_token_hashes(text, k, b, p): b"),
          litLong(exprs(3), "rolling_token_hashes(text, k, b, p): p"))))

  private def litLong(e: Expression, what: String): Long = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v, _) if v != null =>
      v.toString.toLong
    case other => throw new IllegalArgumentException(
      s"$what must be a literal int, got $other")
  }

  private def litInt(e: Expression, what: String): Int =
    litLong(e, what).toInt

  def register(spark: SparkSession): Unit =
    functions.foreach { case (ident, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
    }
}
