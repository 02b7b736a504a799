package org.apache.spark.sql

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, DeclarativeAggregate, ImperativeAggregate}
import org.apache.spark.sql.catalyst.optimizer.{DecimalAggregates, NormalizeFloatingNumbers}
import org.apache.spark.sql.catalyst.planning.PhysicalAggregation
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LocalRelation, LogicalPlan, Project, Union}
import org.apache.spark.sql.catalyst.util.UnsafeRowUtils
import org.apache.spark.sql.execution.aggregate.SortBasedAggregationIterator
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.internal.SQLConf

/** Evaluates a frame over driver-resident rows on the driver, without
  * Catalyst's optimizer: the rows of a plan whose leaves are all
  * non-streaming `LocalRelation`s, as one `LocalRelation` — what the
  * optimizer's `ConvertToLocalRelation` plus an aggregate fold would
  * leave, for the price of the fold's row work alone. A small fold
  * over rows the driver already holds (VALUES lists, byte-admitted
  * chunk reads, fold-in partials) then reads without a Spark job and
  * without an optimizer pass.
  *
  * The analyzed plan goes through the optimizer's non-excludable
  * `FinishAnalysis` rule (view and alias elimination,
  * `ReplaceExpressions`, `ComputeCurrentTime`, …) and is then evaluated
  * under the frame's session conf, interpreted and without
  * subexpression elimination:
  *  - each maximal Project/Filter chain in one streaming pass, each
  *    stage an `InterpretedMutableProjection` or interpreted predicate
  *    initialized at partition 0 (as `ConvertToLocalRelation` does),
  *    each surviving row copied once;
  *  - an Aggregate through Spark's own aggregate functions
  *    ([[aggregate]]), a Union by concatenation ([[union]]), both under
  *    [[graft.core.Ops.DriverZeroJobMaxRows]] input rows.
  *
  * None — the caller then runs the frame as before — for any other
  * node (Join, Generate, Window, Sort, Limit, Distinct, …), an
  * unevaluable or subquery expression, and any evaluation error: the
  * optimizer may run a Filter below a Project, so a pass in plan order
  * can raise an error the optimized plan never raises, and the
  * caller's own path is what raises a user's error. */
object LocalFold {

  def apply(df: DataFrame): Option[LocalRelation] = {
    val analyzed = df.queryExecution.analyzed
    if (!resident(df)) None
    else {
      val state = df.sparkSession.sessionState
      val conf = state.conf.clone()
      conf.setConfString(SQLConf.CODEGEN_FACTORY_MODE.key, "NO_CODEGEN")
      // an interpreted projection's subexpression cache is reset per
      // row, which costs more than the few repeats it saves here
      conf.setConfString(SQLConf.SUBEXPRESSION_ELIMINATION_ENABLED.key, "false")
      SQLConf.withExistingConf(conf) {
        try evaluate(state.optimizer.FinishAnalysis(analyzed))
        catch { case NonFatal(_) => None }
      }
    }
  }

  /** Whether every leaf of `df`'s analyzed plan is a non-streaming
    * `LocalRelation`: rows the driver holds, the frames [[apply]] may
    * evaluate. */
  def resident(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectLeaves().forall(local(_).isDefined)

  /** The rows of `plan`, an analyzed plan already through
    * `FinishAnalysis`, under the current conf; None where [[apply]]
    * declines. Evaluation errors propagate. */
  def evaluate(plan: LogicalPlan): Option[LocalRelation] = plan match {
    case lr: LocalRelation => local(lr)
    case _: Project | _: Filter => chain(plan)
    case a: Aggregate => evaluate(a.child).flatMap(aggregate(a, _))
    case u: Union =>
      val in = u.children.map(evaluate)
      if (in.forall(_.isDefined)) union(u, in.flatten) else None
    case _ => None
  }

  private def local(p: LogicalPlan): Option[LocalRelation] = p match {
    case lr: LocalRelation if !lr.isStreaming => Some(lr)
    case _ => None
  }

  private def unevaluable(e: Expression): Boolean = e.exists {
    case _: AttributeReference => false
    case _: Unevaluable | _: SubqueryExpression => true
    case _ => false
  }

  /** One pass over the rows below a maximal Project/Filter chain. */
  private def chain(top: LogicalPlan): Option[LocalRelation] = {
    var stages = List.empty[LogicalPlan] // bottom stage first
    var p = top
    while (p.isInstanceOf[Project] || p.isInstanceOf[Filter]) {
      stages = p :: stages
      p = p.children.head
    }
    if (stages.exists(_.expressions.exists(unevaluable))) return None
    evaluate(p).map { in =>
      // a stage returns its output row, or null for a row it drops
      val steps = stages.map[InternalRow => InternalRow] {
        case Project(list, child) =>
          val proj = new InterpretedMutableProjection(list.toIndexedSeq,
            child.output.toIndexedSeq)
          proj.initialize(0)
          proj
        case f: Filter =>
          val pred = Predicate.createInterpreted(BindReferences.bindReference(
            f.condition, AttributeSeq(f.child.output.toIndexedSeq)))
          pred.initialize(0)
          r => if (pred.eval(r)) r else null
      }.toArray
      val out = Vector.newBuilder[InternalRow]
      in.data.foreach { row =>
        var r = row
        var i = 0
        while (r != null && i < steps.length) {
          r = steps(i)(r)
          i += 1
        }
        // a row only filtered is the input row itself
        if (r != null) out += (if (r eq row) row else r.copy())
      }
      LocalRelation(top.output, out.result())
    }
  }

  /** A Union of driver-resident relations, as one, under the row cap. */
  def union(u: Union, in: Seq[LocalRelation]): Option[LocalRelation] =
    if (u.byName || u.allowMissingCol ||
        in.iterator.map(_.data.length.toLong).sum >
          graft.core.Ops.DriverZeroJobMaxRows) None
    else Some(LocalRelation(u.output, in.flatMap(_.data)))

  private def admitted(a: LogicalPlan, grouping: Seq[NamedExpression],
      aggs: Seq[AggregateExpression],
      results: Seq[NamedExpression]): Boolean =
    a.expressions.forall(_.deterministic) &&
      aggs.forall(e => !e.isDistinct && e.filter.isEmpty &&
        (e.aggregateFunction match {
          case _: DeclarativeAggregate | _: ImperativeAggregate => true
          case _ => false
        }) && !e.aggregateFunction.children.exists(unevaluable)) &&
      !(grouping ++ results).exists(unevaluable) &&
      grouping.forall(g => UnsafeRowUtils.isBinaryStable(g.dataType))

  /** `a` over `in` (its child's rows), folded on the driver. Semantics
    * are Spark's own: the optimizer's decimal rewrite, the planner's
    * grouping-key float normalization (`-0.0`/`0.0`, NaNs), then the
    * aggregate functions in Complete mode through
    * `SortBasedAggregationIterator`, interpreted, over the input grouped
    * in first-appearance order. None over more than
    * [[graft.core.Ops.DriverZeroJobMaxRows]] input rows, on a DISTINCT
    * or FILTER aggregate, a nondeterministic or unevaluable expression,
    * and a grouping type without binary equality. Evaluation errors
    * propagate. */
  def aggregate(a: Aggregate, in: LocalRelation): Option[LocalRelation] =
    if (in.data.length > graft.core.Ops.DriverZeroJobMaxRows) None
    else DecimalAggregates(a.withNewChildren(Seq(in))) match {
      case agg @ PhysicalAggregation(grouping0, aggs0, results, _)
          if admitted(agg, grouping0, aggs0, results) =>
        // what the physical planner does to grouping keys
        val grouping = grouping0.map(g =>
          NormalizeFloatingNumbers.normalize(g) match {
            case n: NamedExpression => n
            case other => Alias(other, g.name)(exprId = g.exprId)
          })
        val aggs = aggs0.map(_.copy(mode = Complete))
        val keyOf = UnsafeProjection.create(grouping, in.output)
        val groups = new java.util.LinkedHashMap[UnsafeRow,
          scala.collection.mutable.ArrayBuffer[InternalRow]]()
        in.data.foreach(r => groups.computeIfAbsent(keyOf(r).copy(),
          _ => scala.collection.mutable.ArrayBuffer.empty) += r)
        val it = new SortBasedAggregationIterator(0, grouping, in.output,
          groups.values.asScala.iterator.flatten, aggs,
          aggs.map(_.resultAttribute), 0, results,
          (es, attrs) => InterpretedMutableProjection.createProjection(
            BindReferences.bindReferences(es, attrs)),
          new SQLMetric("sum", 0L))
        val rows: Seq[InternalRow] =
          if (grouping.isEmpty && in.data.isEmpty)
            Seq(it.outputForEmptyGroupingKeyWithoutInput())
          else it.map(_.copy()).toVector
        Some(LocalRelation(a.output, rows))
      case _ => None
    }
}
