package graft

import org.apache.spark.sql.SparkSessionExtensions

/** Session-extension entry point (`spark.sql.extensions` /
  * `Builder.withExtensions`) registering the engine's custom Catalyst
  * expressions — the WKB geometry decoders (X6), the vector and text
  * kernels, `graft_stamp`, `graft_layout_salt` — the physical rule
  * [[graft.functions.StampPushedKeys]], which keeps a pushed integral
  * key out of generated code, and two planner strategies:
  * [[graft.functions.LayoutCollapse]], which runs a bucketed write's
  * collapse on its one layout exchange, and
  * [[graft.functions.PointLookupStrategy]], which reads a bucketed point
  * lookup on the driver.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    graft.functions.GraftFunctions.register(ext)
    ext.injectQueryPostPlannerStrategyRule(_ => graft.functions.StampPushedKeys)
    ext.injectPlannerStrategy(_ => graft.functions.LayoutCollapse)
    ext.injectPlannerStrategy(_ => graft.functions.PointLookupStrategy)
  }
}
