package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions.udaf
import org.apache.spark.sql.graft.PlanBridge

/** The engine's custom functions — the Spark analogue of Hive's
  * FunctionRegistry.registerUDF calls
  * [hive: ql/src/java/org/apache/hadoop/hive/ql/exec/FunctionRegistry.java].
  * This table is the only list: [[graft.GraftSession.install]] registers
  * it into a live session and [[graft.GraftExtensions]] injects it at
  * session build time, after which each name is usable from both the SQL
  * front-end and `expr(...)` in DataFrame code.
  */
object GraftFunctions {
  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "field" -> (exprs => FieldExpr(exprs)),
    "minhash32" -> (exprs => MinHashAgg(exprs.head).toAggregateExpression()),
    "parse_url_tuple" -> (exprs => ParseUrlTuple(exprs.head)),
    "kmv" -> KmvAgg.builder,
    "dotq" -> (exprs => DotLongArrays(exprs(0), exprs(1))),
    "zorder64" -> (exprs => ZOrder64(exprs(0), exprs(1))),
    "edit_dl" -> (exprs => DamerauLevenshteinExpr(exprs(0), exprs(1))),
    "wavg" -> (exprs => wavg(exprs)))

  // the typed Aggregator as `spark.udf.register` would wrap it; lazy so
  // that installing the table derives no encoders until wavg is used
  private lazy val wavg =
    PlanBridge.aggregatorBuilder(udaf(WeightedAvg).withName("wavg"))
}
