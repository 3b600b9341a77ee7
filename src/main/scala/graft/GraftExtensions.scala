package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import graft.functions.{NativeFunctions, VectorFunctions}

/** SparkSessionExtensions entry point: enable with
  * `--conf spark.sql.extensions=graft.GraftExtensions` (`graft.Session`
  * does). Injects into every session of the cluster, the deployment shape
  * for the 1000-executor case:
  *  - 18 SQL function names: the 4 vector expressions and the 14 codec
  *    rows of [[NativeFunctions]] (by name is the only route for SQL
  *    strings; DataFrame code uses the Column builders, which need no
  *    registration);
  *  - the zone-map rewrite rule (graft.plans.ZoneMapRewrite);
  *  - the one-split aggregate rule (graft.plans.SingleSplitAggregate),
  *    a pre-CBO rule, so it runs once after the zone-map rule's fixed
  *    point and its stats scans qualify;
  *  - the as-of join strategy.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    (VectorFunctions.functions ++ NativeFunctions.codecs.map(_.entry))
      .foreach { case (name, info, builder) =>
        ext.injectFunction((FunctionIdentifier(name), info, builder))
      }
    ext.injectOptimizerRule(session => graft.plans.ZoneMapRewrite(session))
    ext.injectPreCBORule(session => graft.plans.SingleSplitAggregate(session))
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}
