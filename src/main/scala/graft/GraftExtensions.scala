package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.GraftFunctions
import graft.plans.{AsOfJoinStrategy, GroupedTopKStrategy, MaterializedViewRewrite, RowNumberTopKRewrite}

/** SparkSessionExtensions entry point — the deployment-grade way to wire
  * the engine's custom functions and planner strategies into ANY session:
  * `.withExtensions(new GraftExtensions)` on its builder, or
  * `--conf spark.sql.extensions=graft.GraftExtensions`.
  *
  * It injects every function of [[GraftFunctions.all]] and the two
  * strategies that [[GraftSession.install]] adds to a live session, plus
  * two optimizer rules that only this path enables (Hive analogue:
  * registering UDFs + hooks via hive-site.xml [hive: ql/src/java/org/
  * apache/hadoop/hive/ql/exec/FunctionRegistry.java]).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, builder) =>
      e.injectFunction(
        (FunctionIdentifier(name), new ExpressionInfo("graft", name), builder))
    }
    e.injectPlannerStrategy(_ => GroupedTopKStrategy)
    e.injectPlannerStrategy(_ => AsOfJoinStrategy)
    // optimizer rule: row_number()<=k window filters (incl. SQL QUALIFY)
    // lower to the GroupedTopK operator when the rank column is dropped
    e.injectOptimizerRule(_ => RowNumberTopKRewrite)
    // optimizer rule: aggregates over a registered fact are transparently
    // answered from a materialized partial-aggregate table (no-op until
    // MaterializedViewRewrite.register is called)
    e.injectOptimizerRule(_ => MaterializedViewRewrite)
  }
}
