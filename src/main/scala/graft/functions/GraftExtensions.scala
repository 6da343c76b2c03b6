package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.graft.LocalBroadcast

/** Session-extension wiring for cluster deployments:
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.functions.GraftExtensions ...
  * }}}
  *
  * registers graft's native expressions, and the job-free broadcast of
  * local relations (`org.apache.spark.sql.graft.LocalBroadcast`), into
  * every session built with the config — the standard mechanism for
  * libraries shipping Catalyst extensions (interactive sessions can
  * call `VectorExpressions.register(spark)` and
  * `LocalBroadcast.setup(spark)` instead). Builders come from
  * [[VectorExpressions.sqlFunctions]] — the same arity-checked code
  * path as the programmatic route, so `SELECT graft_dot(a)` raises a
  * proper WRONG_NUM_ARGS AnalysisException naming the function, not an
  * IndexOutOfBoundsException.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    VectorExpressions.sqlFunctions.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    ext.injectPlannerStrategy(_ => LocalBroadcast)
  }
}
