package graft.streaming

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Expression, NamedExpression, SubqueryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction, Average, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, GlobalLimit, LocalLimit, LogicalPlan, Project, Repartition, Sort, SubqueryAlias}
import org.apache.spark.sql.graft.{ColumnShim, PlanShim}
import org.apache.spark.sql.types.{ByteType, DecimalType, IntegerType, LongType, ShortType, StructType}

/** The incremental state plan of a snapshot-mode tail: the window state
  * holds one row of running aggregates per (window, group) instead of
  * every row of the window, and a closing window runs only the SQL's
  * operators above its Aggregate, over that window's few partial rows.
  *
  * @param keys   the SQL's grouping columns other than the window bounds
  * @param aggs   the aggregates the stream keeps, over the source's
  *               columns plus window_start/window_end
  * @param layout what the window state holds (keys and aggregates), the
  *               identity a restarted checkpoint must match
  */
private[streaming] final class WindowPartials private (
    val keys: Seq[String], val aggs: Seq[Column], val layout: String,
    plan: LogicalPlan, agg: Aggregate, partials: Seq[(AggregateExpression, String)],
    t0Name: Attribute => String) {

  /** The columns of a partial row after the window bounds. */
  def columns: Seq[String] = keys ++ partials.map(_._2)

  /** The SQL's result for one closed window from its partial rows
    * (window_start, window_end, [[columns]]): the analyzed SQL with its
    * Aggregate replaced by a projection of the partials, so the
    * operators above keep their resolved attributes.
    */
  def finish(rows: DataFrame): DataFrame = {
    val child = rows.queryExecution.analyzed
    def attr(name: String): Attribute = child.output.find(_.name == name).get
    val outputs = agg.aggregateExpressions.map {
      case a: Attribute => Alias(attr(t0Name(a)), a.name)(exprId = a.exprId)
      case e => e.transformDown {
        case ae: AggregateExpression => attr(partials.find(_._1.semanticEquals(ae)).get._2)
        case a: Attribute => attr(t0Name(a))
      }.asInstanceOf[NamedExpression]
    }
    // one partition: an ORDER BY sorts the few partial rows in place
    // instead of range-partitioning them
    PlanShim.ofRows(rows.sparkSession, plan.transformDown {
      case p if p eq agg => Project(outputs, Repartition(1, shuffle = false, child))
    })
  }
}

private[streaming] object WindowPartials {

  /** The partial plan of `sql` over the one view t0 (schema `t0`: the
    * source's columns, window_start, window_end), or None when the SQL
    * needs the window's rows. The SQL is analyzed once, against an empty
    * t0, in a copy of the session (its conf, not its temp views). It
    * qualifies when the analyzed plan is Sort/Limit/Project/Filter
    * operators over one Aggregate whose child is t0 itself, grouped by
    * plain t0 columns (or none), whose every aggregate is a plain count,
    * min, max, sum or avg, and whose sums and averages read integral or
    * decimal values: a float sum depends on the order it is added in.
    * SQL that fails to analyze keeps the row plan, whose first fire
    * reports the error as before.
    */
  def choose(spark: SparkSession, t0: StructType, sql: String): Option[WindowPartials] = {
    val session = PlanShim.cloneSession(spark)
    session.createDataFrame(java.util.Collections.emptyList[Row](), t0).createOrReplaceTempView("t0")
    val plan = try PlanShim.analyze(session, sql) catch { case NonFatal(_) => return None }
    aggregateOf(plan).filter(qualifies).flatMap { agg =>
      // an attribute carries the name the SQL spelled; t0's own is by id
      val names = agg.child.output.map(a => a.exprId -> a.name).toMap
      def t0Name(a: Attribute): String = names(a.exprId)
      val fns = agg.aggregateExpressions.flatMap(_.collect { case ae: AggregateExpression => ae })
      val distinct = fns.foldLeft(Seq.empty[AggregateExpression])((acc, ae) =>
        if (acc.exists(_.semanticEquals(ae))) acc else acc :+ ae)
      val partials = distinct.zipWithIndex.map { case (ae, i) => ae -> s"_p$i" }
      val onStream = distinct.map(ae => ae.aggregateFunction.transform {
        case a: AttributeReference => UnresolvedAttribute.quoted(t0Name(a))
      }.asInstanceOf[AggregateFunction].toAggregateExpression())
      val keys = agg.groupingExpressions.map(e => t0Name(e.asInstanceOf[Attribute])).distinct
        .filterNot(Set("window_start", "window_end"))
      if (partials.exists(p => t0.fieldNames.contains(p._2))) None
      else Some(new WindowPartials(keys,
        onStream.zip(partials).map { case (e, (_, name)) => ColumnShim.column(e).as(name) },
        s"partials by (window${keys.map(", " + _).mkString}): ${onStream.map(_.sql).mkString(", ")}",
        plan, agg, partials, t0Name))
    }
  }

  /** The Aggregate under `plan`'s Sort/Limit/Project/Filter operators. */
  private def aggregateOf(plan: LogicalPlan): Option[Aggregate] = plan match {
    case a: Aggregate => Some(a)
    case _: Sort | _: GlobalLimit | _: LocalLimit | _: Project | _: Filter
        if plan.expressions.forall(pure) => aggregateOf(plan.children.head)
    case _ => None
  }

  private def qualifies(agg: Aggregate): Boolean = {
    val overT0 = agg.child match {
      case s: SubqueryAlias => s.identifier.name.equalsIgnoreCase("t0")
      case _ => false
    }
    overT0 && agg.aggregateExpressions.forall(pure) &&
      agg.groupingExpressions.forall {
        case a: AttributeReference => agg.child.outputSet.contains(a)
        case _ => false
      } &&
      agg.aggregateExpressions.forall(_.collect { case ae: AggregateExpression => ae }.forall(decomposable))
  }

  private def decomposable(ae: AggregateExpression): Boolean =
    !ae.isDistinct && ae.filter.isEmpty && (ae.aggregateFunction match {
      case _: Count | _: Min | _: Max => true
      case f @ (_: Sum | _: Average) => f.children.head.dataType match {
        case ByteType | ShortType | IntegerType | LongType | _: DecimalType => true
        case _ => false
      }
      case _ => false
    })

  private def pure(e: Expression): Boolean = e.deterministic && !SubqueryExpression.hasSubquery(e)
}
