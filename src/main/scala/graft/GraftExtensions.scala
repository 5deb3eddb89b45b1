package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{DotProduct, WordShingles}

/** Session extension registering the engine's native expressions for SQL:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *   // or, on a session builder
  *   builder.withExtensions(new GraftExtensions) ...
  *   spark.sql("SELECT dot_product(a.embedding, b.embedding) FROM ...")
  *   spark.sql("SELECT word_shingles(tokens, 3) FROM ...")
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectFunction((
      FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "dot_product(a, b) takes two array arguments")
        DotProduct(args(0), args(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("word_shingles"),
      new ExpressionInfo(classOf[WordShingles].getName, "word_shingles"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "word_shingles(tokens, n) takes two arguments")
        val n = args(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v, _) =>
            v.toString.toInt
          case other =>
            throw new IllegalArgumentException(
              s"word_shingles n must be a literal, got $other")
        }
        WordShingles(args(0), n)
      }))
  }
}

object GraftExtensions {
  /** Imperative registration for an existing session (tests, notebooks). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    registry.createOrReplaceTempFunction("dot_product",
      (args: Seq[Expression]) => DotProduct(args(0), args(1)), "built-in")
    registry.createOrReplaceTempFunction("word_shingles",
      (args: Seq[Expression]) => args(1) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v, _) =>
          WordShingles(args(0), v.toString.toInt)
        case other =>
          throw new IllegalArgumentException(
            s"word_shingles n must be a literal, got $other")
      }, "built-in")
  }
}
