package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import graft.functions.VectorFunctions

/** SparkSessionExtensions entry point: enable with
  * `--conf spark.sql.extensions=graft.GraftExtensions`.
  * Injects the native vector and codec expressions by name (the only
  * route for SQL strings; DataFrame code builds them directly), the
  * zone-map rewrite rule (graft.plans.ZoneMapRewrite) and the as-of join
  * strategy into every session of the cluster — the deployment shape for
  * the 1000-executor case.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    (VectorFunctions.functions ++ graft.functions.CodecFunctions.functions)
      .foreach { case (name, info, builder) =>
        ext.injectFunction((FunctionIdentifier(name), info, builder))
      }
    ext.injectOptimizerRule(session => graft.plans.ZoneMapRewrite(session))
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}
