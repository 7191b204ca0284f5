package graft.engine

import scala.util.Try

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Cast, ExprId, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.plans.{Cross, ExistenceJoin, Inner, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan, Project, UnaryNode, Union}
import org.apache.spark.sql.types.IntegerType

/** The survey years a frame's year column can hold, read off its analyzed
  * plan instead of probed from its data, so asking starts no Spark job.
  *
  * Every per-year branch the engine builds projects its year as a literal
  * (`add_year`, the weights table, a marked A9 cache read), and the
  * operators above pass that column through. The walk follows the column's
  * attribute down the plan:
  *   - a `Project` that aliases a literal, or a cast of one, gives that year;
  *   - `Union` takes the union of its branches' years;
  *   - `Join`, from a side whose rows it keeps, and `Aggregate` grouping
  *     keys pass the year through, and so does a unary node whose child
  *     carries the attribute;
  *   - anything else gives `None`: a scan, a frame the user built, a
  *     null-filled or computed year.
  *
  * The answer is an upper bound. A filter or join above the literal can
  * remove every row of a year, and the year is still listed.
  */
object YearLineage {

  def of(df: DataFrame, yearCol: String = "Year"): Option[Seq[Int]] = {
    val plan = df.queryExecution.analyzed
    val resolver = df.sparkSession.sessionState.conf.resolver
    plan.output.filter(a => resolver(a.name, yearCol)) match {
      case Seq(a) => yearsOf(plan, a.exprId).map(_.toSeq.sorted)
      case _ => None
    }
  }

  private def yearsOf(plan: LogicalPlan, id: ExprId): Option[Set[Int]] = plan match {
    case p: Project =>
      p.projectList.find(_.exprId == id).flatMap(through(p.child, _, _ => true))
    case a: Aggregate =>
      a.aggregateExpressions.find(_.exprId == id)
        .flatMap(through(a.child, _, k => a.groupingExpressions.exists(_.semanticEquals(k))))
    case u: Union =>
      val i = u.output.indexWhere(_.exprId == id)
      val branches = if (i < 0) Seq(None) else u.children.map(c => yearsOf(c, c.output(i).exprId))
      if (branches.forall(_.isDefined)) Some(branches.flatten.reduce(_ ++ _)) else None
    case j: Join =>
      def carries(side: LogicalPlan) = side.output.exists(_.exprId == id)
      j.joinType match {
        case Inner | Cross | LeftOuter | LeftSemi | LeftAnti | _: ExistenceJoin if carries(j.left) =>
          yearsOf(j.left, id)
        case Inner | Cross | RightOuter if carries(j.right) => yearsOf(j.right, id)
        case _ => None
      }
    case u: UnaryNode if u.child.output.exists(_.exprId == id) => yearsOf(u.child, id)
    case _ => None
  }

  /** The years of one output expression of a projecting node: a literal
    * year, or an attribute of `child` (renamed or not) that `passes`.
    */
  private def through(child: LogicalPlan, e: NamedExpression,
                      passes: Attribute => Boolean): Option[Set[Int]] = e match {
    case a: Attribute if passes(a) => yearsOf(child, a.exprId)
    case Alias(a: Attribute, _) if passes(a) => yearsOf(child, a.exprId)
    case Alias(v, _) if isLiteral(v) => literalYear(v).map(Set(_))
    case _ => None
  }

  private def isLiteral(e: Expression): Boolean = e match {
    case _: Literal => true
    case c: Cast => isLiteral(c.child)
    case _ => false
  }

  /** The literal as the probe reads it, `CAST(year AS INT)`; a null or a
    * value that does not cast gives `None`, so the probe reports it.
    */
  private def literalYear(v: Expression): Option[Int] =
    Try(Option(Cast(v, IntegerType, Some("UTC")).eval())).toOption.flatten.map(_.asInstanceOf[Int])
}
