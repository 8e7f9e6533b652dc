package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import VectorExpressions.{VecCosine, VecDot}

/** SparkSessionExtensions entry point registering the engine's custom
  * Catalyst expressions as SQL functions, so `spark.sql("... vec_cosine(a,
  * b) ...")` works next to the Column API. Register it on the session
  * builder:
  *
  * {{{
  * .config("spark.sql.extensions", "graft.functions.GraftExtensions")
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def binary(name: String, build: (Expression, Expression) => Expression) =
    (new FunctionIdentifier(name),
      new ExpressionInfo(VectorExpressions.getClass.getName, name),
      (children: Seq[Expression]) => {
        require(children.size == 2, s"$name expects 2 arguments")
        build(children(0), children(1))
      })

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(binary("vec_dot", VecDot))
    ext.injectFunction(binary("vec_cosine", VecCosine))
  }
}
