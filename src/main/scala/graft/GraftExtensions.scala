package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/**
 * Application-wide injection of graft's native Catalyst kernels via
 * the standard Spark extension point:
 *
 * {{{
 *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions …
 *   // or programmatically:
 *   SparkSession.builder().withExtensions(new GraftExtensions)
 * }}}
 *
 * Every kernel in [[graft.functions.VectorExpressions.kernelBuilders]]
 * becomes a built-in function of every session of the application —
 * the deployment path for a cluster where ad-hoc SQL users expect
 * `graft_dot` etc. to resolve without any Scala entry point having
 * run first. The per-session
 * [[graft.functions.VectorExpressions.register]] path stays as
 * belt-and-braces for sessions built without the extension (tests,
 * embedded use); both paths resolve from the same builder table, so a
 * session reached either way evaluates identical expressions. Every
 * graft main builds its session through [[LocalSession]], which
 * installs this class, so the injection path is exercised end-to-end
 * every driver run.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    functions.VectorExpressions.kernelBuilders.foreach {
      case (name, builder) =>
        ext.injectFunction((FunctionIdentifier(name),
          new ExpressionInfo(
            "graft.functions.VectorExpressions", name),
          builder))
    }
}
