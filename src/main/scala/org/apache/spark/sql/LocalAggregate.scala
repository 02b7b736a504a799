package org.apache.spark.sql

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{Complete, DeclarativeAggregate, ImperativeAggregate}
import org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers
import org.apache.spark.sql.catalyst.planning.PhysicalAggregation
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan, Union}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.UnsafeRowUtils
import org.apache.spark.sql.execution.aggregate.SortBasedAggregationIterator
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.internal.SQLConf

/** Folds an `Aggregate` over driver-resident rows (a non-streaming
  * `LocalRelation` of at most [[graft.core.Ops.DriverZeroJobMaxRows]]
  * rows) into a `LocalRelation`, and a `Union` of such relations into
  * one — the aggregate half of what Catalyst's `ConvertToLocalRelation`
  * does for Project/Filter/Limit, registered beside it on the engine
  * clone ([[GraftBridge.engineSession]]) so the Projects above a folded
  * Aggregate fold too. A small fold over rows the driver already holds
  * then collects without a Spark job.
  *
  * Semantics are Spark's own: the planner's grouping-key float
  * normalization (`-0.0`/`0.0`, NaNs), then the aggregate functions run
  * in Complete mode through `SortBasedAggregationIterator`, interpreted,
  * over the input grouped in first-appearance order. It declines
  * (leaves the plan unchanged, so the job path runs and raises any user
  * error as before) on a DISTINCT or FILTER aggregate, a nondeterministic
  * or unevaluable expression, a grouping type without binary equality,
  * and any evaluation failure. */
object LocalAggregate extends Rule[LogicalPlan] {

  private def local(p: LogicalPlan): Option[LocalRelation] = p match {
    case lr: LocalRelation if !lr.isStreaming => Some(lr)
    case _ => None
  }

  def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case u: Union if !u.byName && !u.allowMissingCol &&
        u.children.forall(local(_).isDefined) &&
        u.children.iterator.map(local(_).get.data.length.toLong).sum <=
          graft.core.Ops.DriverZeroJobMaxRows =>
      LocalRelation(u.output, u.children.flatMap(local(_).get.data))
    case a: Aggregate => local(a.child)
      .filter(_.data.length <= graft.core.Ops.DriverZeroJobMaxRows)
      .flatMap(fold(a, _)).getOrElse(a)
  }

  private def unevaluable(e: Expression): Boolean = e.exists {
    case _: AttributeReference => false
    case _: Unevaluable => true
    case _ => false
  }

  private def admitted(a: Aggregate, grouping: Seq[NamedExpression],
      aggs: Seq[aggregate.AggregateExpression],
      results: Seq[NamedExpression]): Boolean =
    a.expressions.forall(_.deterministic) &&
      aggs.forall(e => !e.isDistinct && e.filter.isEmpty &&
        (e.aggregateFunction match {
          case _: DeclarativeAggregate | _: ImperativeAggregate => true
          case _ => false
        }) && !e.aggregateFunction.children.exists(unevaluable)) &&
      !(grouping ++ results).exists(unevaluable) &&
      grouping.forall(g => UnsafeRowUtils.isBinaryStable(g.dataType))

  private def fold(a: Aggregate, in: LocalRelation): Option[LocalRelation] =
    a match {
      case PhysicalAggregation(grouping0, aggs0, results, _)
          if admitted(a, grouping0, aggs0, results) =>
        try {
          val conf = SQLConf.get.clone()
          conf.setConfString(SQLConf.CODEGEN_FACTORY_MODE.key, "NO_CODEGEN")
          SQLConf.withExistingConf(conf) {
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
          }
        } catch { case NonFatal(_) => None }
      case _ => None
    }
}
