package graft

import org.apache.spark.sql.SparkSessionExtensions

/** Engine extension installer (`SparkSessionExtensions`) — the
  * mechanism the brief's custom-operator ladder names for registering
  * native expressions/rules/strategies. Installs the codegen'd scalar
  * expressions ([[graft.functions.VecOps]]/Sketches/RingOps/GramOps) and the
  * whole-operator bounded top-k vertical ([[graft.plans.TopKRewrite]]
  * optimizer rule + [[graft.plans.TopKStrategy]] planner strategy);
  * applied to every session built by [[Session.build]], and usable by
  * library consumers via `spark.sql.extensions=graft.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction(functions.VecOps.descriptor)
    e.injectFunction(functions.Sketches.descriptor)
    e.injectFunction(functions.RingOps.descriptor)
    functions.GramOps.descriptors.foreach(e.injectFunction)
    e.injectOptimizerRule(plans.TopKRewrite)
    e.injectPlannerStrategy(plans.TopKStrategy)
  }
}
