package graft.plans

import java.security.MessageDigest
import java.util.concurrent.ConcurrentHashMap

import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Cast, Coalesce, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.functions.{DoubleToDecimal, ExactCast}

/** Automatic materialized-view rewrite — the optimizer-side analogue of
  * Hive 3's flagship MV feature [hive: ql/src/java/org/apache/hadoop/hive/
  * ql/metadata/HiveMaterializedViewsRegistry.java + Calcite's
  * MaterializedViewAggregateRule]: a `GROUP BY` aggregate over a fact table
  * is transparently answered from a precomputed partial-aggregate table
  * whenever the query's grouping columns are a subset of the MV's and every
  * aggregate is derivable from an MV partial (the standard aggregate-rollup
  * containment test).
  *
  * Rollup algebra — an EXPLICIT whitelist, enforced at both registration
  * and rewrite time (anything else is rejected, never "best-effort"):
  *   sum   -> SUM(partial_sum)
  *   count -> COALESCE(SUM(partial_count), 0)   (global count over an
  *            empty fact must be 0, not NULL, like the un-rewritten plan)
  *   min   -> MIN(partial_min)
  *   max   -> MAX(partial_max)
  * avg/distinct/stddev/anything-else do NOT roll up from these partials
  * (avg of per-group averages is wrong; distinct does not decompose), so
  * `register` throws on such a definition and `rolled` returns None even
  * if a stale registration contains one.
  *
  * Staleness: Hive's registry tracks MV validity against fact-table write
  * ids; the filesystem analogue here is a fingerprint of the fact's file
  * listing (path + length + mtime, hashed) captured at `register` and
  * re-checked before every rewrite — if the fact was rewritten (e.g. the
  * copy-on-write DML in [[graft.ops.AcidDml]]), the rewrite silently
  * stands down and the query runs against the fact. The per-query cost is
  * one file listing of the fact root, which is the same metadata op the
  * scan itself performs; a production deployment over a table format would
  * compare snapshot ids instead.
  *
  * Matching is conservative by design: the fact scan must be bare (no
  * Filter between the Aggregate and the scan — a filtered query may touch
  * rows the MV has already collapsed), grouping expressions must be plain
  * fact columns, and aggregate calls are matched by a canonical rendering
  * (function + exact cast chain + column name) captured from the MV's own
  * defining query — so `sum(CAST(x AS DECIMAL(18,4)))` never silently
  * answers `sum(x)` with different float semantics.
  *
  * Scale rationale: at 100 TB the MV is the difference between re-scanning
  * the fact (O(fact)) and scanning a table the size of the group-key
  * cross-product (often 1e6x smaller); because the rewrite happens in the
  * optimizer, every consumer — SQL, DataFrame, BI dashboard — benefits
  * without query changes, which is exactly why warehouses ship it.
  *
  * Registered per-session via `experimental.extraOptimizations` (same
  * mechanism as [[RowNumberTopKRewrite]] via GraftExtensions); the
  * registry is keyed by the fact table's filesystem path, so the rule is
  * a no-op for every query until an MV is registered.
  */
object MaterializedViewRewrite extends Rule[LogicalPlan] {

  /** A registered MV: the scan of the materialized table, the fact group
    * columns it carries, the canonical-key -> partial-column map, and the
    * fact-listing fingerprint the registration is valid for. */
  private final case class MvDef(
      plan: LogicalPlan,
      groupCols: Set[String],
      aggCols: Map[String, String],
      factFingerprint: String)

  private val registry = new ConcurrentHashMap[String, MvDef]()

  /** Register an MV for automatic rewrite. Throws if the definition
    * contains any aggregate outside the sum/count/min/max rollup
    * whitelist, or a DISTINCT/FILTER aggregate — those partials cannot be
    * re-aggregated and must never be registered.
    *
    * @param factPath   filesystem path of the fact table's parquet root
    * @param definition the MV's defining aggregate over the fact — its
    *                   analyzed plan supplies the group columns and the
    *                   canonical keys of the partials (output names must
    *                   equal the materialized table's column names)
    * @param mvTable    the materialized table (e.g. spark.read.parquet of
    *                   the MV path)
    */
  def register(factPath: String, definition: DataFrame,
               mvTable: DataFrame): Unit = {
    val agg = definition.queryExecution.analyzed.collectFirst {
      case a: Aggregate => a
    }.getOrElse(throw new IllegalArgumentException(
      "MV definition must be an Aggregate"))
    val groupCols = agg.groupingExpressions.map {
      case a: AttributeReference => a.name
      case e => throw new IllegalArgumentException(
        s"MV group expression must be a plain column, got $e")
    }.toSet
    val aggCols = agg.aggregateExpressions.collect {
      case al @ Alias(ae: AggregateExpression, _) =>
        if (ae.isDistinct || ae.filter.nonEmpty)
          throw new IllegalArgumentException(
            s"DISTINCT/FILTER aggregates do not roll up: $ae")
        ae.aggregateFunction match {
          case _: Sum | _: Count | _: Min | _: Max => // whitelisted
          case f => throw new IllegalArgumentException(
            s"aggregate ${f.prettyName} is outside the rollup whitelist " +
              "(sum/count/min/max); avg and friends do not roll up")
        }
        keyOf(ae.aggregateFunction) -> al.name
    }.toMap
    val fp = fingerprint(factPath).getOrElse(
      throw new IllegalArgumentException(
        s"cannot register MV: fact listing unreadable at $factPath"))
    registry.put(normalize(factPath),
      MvDef(mvTable.queryExecution.analyzed, groupCols, aggCols, fp))
  }

  /** Whether a (still-valid-or-not) registration exists for the path. */
  def isRegistered(factPath: String): Boolean =
    registry.containsKey(normalize(factPath))

  /** Drop all registrations (test isolation). */
  def clear(): Unit = registry.clear()

  private def normalize(p: String): String =
    new org.apache.hadoop.fs.Path(p).toUri.getPath

  /** Hash of the fact's recursive file listing (path, length, mtime) —
    * the local-filesystem stand-in for a table-format snapshot id. None
    * on any IO failure (fact deleted, moved): registration then throws,
    * and the rewrite-time staleness gate stands down (a constant failure
    * sentinel would compare equal to a registration-time failure and
    * fail OPEN — ADVICE r6). */
  private def fingerprint(path: String): Option[String] = Try {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(
      SparkSession.active.sessionState.newHadoopConf())
    val it = fs.listFiles(p, true)
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) {
      val f = it.next()
      entries += s"${f.getPath.toUri.getPath}:${f.getLen}:${f.getModificationTime}"
    }
    val md = MessageDigest.getInstance("MD5")
    md.update(entries.sorted.mkString("\n").getBytes("UTF-8"))
    md.digest().map("%02x".format(_)).mkString
  }.toOption

  /** Canonical rendering of an aggregate call for matching: function name
    * + exact cast chain + leaf column names. Qualifier- and exprId-free,
    * so the same textual aggregate matches across plans. */
  private def keyOf(e: Expression): String = e match {
    case a: AttributeReference => a.name
    // the exact-decimal cast kernels compute exactly this cast
    case c @ (_: Cast | _: ExactCast | _: DoubleToDecimal) =>
      s"cast(${keyOf(c.children.head)} as ${c.dataType.sql})"
    case l: Literal => l.sql
    case other =>
      s"${other.prettyName}(${other.children.map(keyOf).mkString(",")})"
  }

  /** The fact path under the aggregate, if the subtree is a bare scan
    * (column-pruning Projects only — a Filter disqualifies the rewrite). */
  private def factPathOf(p: LogicalPlan): Option[String] = p match {
    case Project(pl, child) if pl.forall(_.isInstanceOf[AttributeReference]) =>
      factPathOf(child)
    case l: LogicalRelation => l.relation match {
      case fs: HadoopFsRelation if fs.location.rootPaths.length == 1 =>
        Some(fs.location.rootPaths.head.toUri.getPath)
      case _ => None
    }
    case _ => None
  }

  /** Roll the query's aggregate call up from the matching MV partial —
    * whitelist-only; any function outside sum/count/min/max refuses the
    * rewrite even if a registration key happens to match. */
  private def rolled(ae: AggregateExpression, mv: MvDef,
                     out: Map[String, Attribute]): Option[Expression] = {
    if (ae.isDistinct || ae.filter.nonEmpty) None
    else for {
      mvCol <- mv.aggCols.get(keyOf(ae.aggregateFunction))
      partial <- out.get(mvCol)
      e <- ae.aggregateFunction match {
        case _: Min => Some(Min(partial).toAggregateExpression())
        case _: Max => Some(Max(partial).toAggregateExpression())
        case _: Sum => Some(Sum(partial).toAggregateExpression())
        case _: Count => Some(Coalesce(Seq(
          Sum(partial).toAggregateExpression(), Literal(0L))))
        case _ => None
      }
    } yield if (e.dataType == ae.dataType) e else Cast(e, ae.dataType)
  }

  /** Rewrite an expression onto the MV: aggregate calls roll up, grouping
    * columns re-bind by name, scalar wrappers (casts, arithmetic) carry
    * over; any other fact reference kills the rewrite. */
  private def rewriteExpr(e: Expression, mv: MvDef,
                          out: Map[String, Attribute]): Option[Expression] =
    e match {
      case ae: AggregateExpression => rolled(ae, mv, out)
      case a: AttributeReference =>
        if (mv.groupCols.contains(a.name)) out.get(a.name) else None
      case other =>
        val kids = other.children.map(rewriteExpr(_, mv, out))
        if (kids.forall(_.isDefined)) Some(other.withNewChildren(kids.flatten))
        else None
    }

  /** Result expressions keep their names AND exprIds so parent operators
    * (sorts, projects) resolve against the rewritten aggregate unchanged. */
  private def rewriteNamed(ne: NamedExpression, mv: MvDef,
                           out: Map[String, Attribute])
      : Option[NamedExpression] = ne match {
    case a: AttributeReference if mv.groupCols.contains(a.name) =>
      out.get(a.name).map(m => Alias(m, a.name)(exprId = a.exprId))
    case al @ Alias(child, name) =>
      rewriteExpr(child, mv, out).map(e => Alias(e, name)(exprId = al.exprId))
    case _ => None
  }

  private def tryRewrite(agg: Aggregate): Option[Aggregate] = for {
    path <- factPathOf(agg.child)
    mv <- Option(registry.get(path))
    // staleness gate: the fact was rewritten since registration (COW DML,
    // re-load, compaction) -> the MV may not reflect it; stand down.
    // fingerprint() is None when the listing fails, which never matches
    // (fail closed).
    if fingerprint(path).contains(mv.factFingerprint)
    // fresh relation instance per rewrite site: a query with two
    // rewritable aggregates (union/self-join) must not share exprIds
    // across branches.
    fresh = mv.plan.transformUp {
      case m: MultiInstanceRelation => m.newInstance()
    }
    out = fresh.output.map(a => a.name -> a).toMap
    if agg.groupingExpressions.forall {
      case a: AttributeReference =>
        mv.groupCols.contains(a.name) && out.contains(a.name)
      case _ => false
    }
    rewritten = agg.aggregateExpressions.map(rewriteNamed(_, mv, out))
    if rewritten.forall(_.isDefined)
  } yield agg.copy(
    groupingExpressions = agg.groupingExpressions.map {
      case a: AttributeReference => out(a.name)
    },
    aggregateExpressions = rewritten.flatten,
    child = fresh)

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (registry.isEmpty) plan
    else plan.transform {
      case agg: Aggregate => tryRewrite(agg).getOrElse(agg)
    }
}
