package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{FloatVecDot, QuantizedVecDot}

/** Cluster deployment entry point: register graft's custom Catalyst
  * expressions at session build time via
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * (or `Session.builder(...).withExtensions(new GraftExtensions)`).
  * The per-session `VectorFunctions.register(spark)` path does the same
  * through the function registry for sessions we don't construct.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[FloatVecDot].getName, "vec_dot"),
      (exprs: Seq[Expression]) => FloatVecDot(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("q_vec_dot"),
      new ExpressionInfo(classOf[QuantizedVecDot].getName, "q_vec_dot"),
      (exprs: Seq[Expression]) => QuantizedVecDot(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("bloom_might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "bloom_might_contain"),
      (exprs: Seq[Expression]) => org.apache.spark.sql.catalyst.expressions
        .BloomFilterMightContain(exprs(0), exprs(1))))
  }
}
