package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{ExistenceJoin, LeftAnti, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import graft.functions.expressions.LoadBytes

/** Payload-load pushdown (SURVEY §4.2) — the engine's one
  * whole-plan rewrite with real payoff at 100 TB.
  *
  * A projection computing `load_bytes(path)` below a join, filter,
  * sort, repartition, limit, dedup, or window drags `BinaryType`
  * payloads through every downstream exchange and evaluates the read
  * for rows that are about to be discarded. This rule re-plans: the
  * load moves ABOVE each such operator (one level per application;
  * the optimizer's fixed point walks it all the way to its consumer),
  * while the small `path` string rides the shuffle in its place.
  *
  * The rewrite is output-identical: the hoisted alias keeps its
  * exprId, and a restoring projection pins the operator's original
  * output schema and order, so parent plans never notice. An
  * operator that itself CONSUMES the bytes (filter on
  * `length(bytes)`, join keyed on content) blocks the hoist at that
  * level — the load lands exactly below its first real consumer.
  *
  * Semantics notes:
  *  - outer joins: unmatched rows null-fill `path`, and
  *    `load_bytes(null)` is null — identical to loading before the
  *    join and null-filling the bytes;
  *  - 1:N joins: rows duplicated by the join re-read the payload once
  *    per OUTPUT row. That trades reads for shuffle — the right
  *    default when bytes ≫ path (always) and the join is the
  *    reference's 1:1 metadata-merge shape.
  *
  * Registered through both extension paths
  * ([[graft.functions.GraftExtensions]] config and
  * [[graft.functions.GraftFunctions.register]]).
  */
object HoistPayloadLoad extends Rule[LogicalPlan] {

  /** An alias whose computation contains a payload load — the whole
    * computed column (e.g. `length(load_bytes(path)) AS len`) hoists
    * as one unit.
    */
  private def isLoad(e: NamedExpression): Boolean = e match {
    case a: Alias => a.child.exists(_.isInstanceOf[LoadBytes])
    case _ => false
  }

  /** (load aliases, everything else) — None when nothing to hoist. */
  private def splitLoads(
      p: Project): Option[(Seq[Alias], Seq[NamedExpression])] = {
    val (loads, keeps) = p.projectList.partition(isLoad)
    if (loads.isEmpty) None
    else Some((loads.map(_.asInstanceOf[Alias]), keeps))
  }

  /** Lower projection: drop the loads, keep (and if needed add) the
    * attributes the load expressions read — the `path` strings.
    */
  private def lowerProject(loads: Seq[Alias], keeps: Seq[NamedExpression],
      child: LogicalPlan): Project = {
    val keptOut = AttributeSet(keeps.map(_.toAttribute))
    val extra = loads.flatMap(_.references).distinct
      .filterNot(keptOut.contains)
    Project(keeps ++ extra, child)
  }

  /** Original output schema/order, with the load attributes replaced
    * by their (exprId-preserving) recomputing aliases.
    */
  private def restore(original: Seq[Attribute], loads: Seq[Alias],
      rebuilt: LogicalPlan): Project = {
    val byId = loads.map(a => a.exprId -> a).toMap
    Project(original.map(a =>
      byId.getOrElse(a.exprId, a): NamedExpression), rebuilt)
  }

  /** Hoist above a unary operator whose expressions don't touch the
    * loaded bytes.
    */
  private def hoistUnary(node: UnaryNode, p: Project): LogicalPlan =
    splitLoads(p) match {
      case Some((loads, keeps))
          if node.references.intersect(
            AttributeSet(loads.map(_.toAttribute))).isEmpty =>
        val rebuilt =
          node.withNewChildren(Seq(lowerProject(loads, keeps, p.child)))
        restore(node.output, loads, rebuilt)
      case _ => node
    }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUp {
      case n: Filter if n.child.isInstanceOf[Project] =>
        hoistUnary(n, n.child.asInstanceOf[Project])
      case n: Sort if n.child.isInstanceOf[Project] =>
        hoistUnary(n, n.child.asInstanceOf[Project])
      case n: LocalLimit if n.child.isInstanceOf[Project] =>
        hoistUnary(n, n.child.asInstanceOf[Project])
      case n: GlobalLimit if n.child.isInstanceOf[Project] =>
        hoistUnary(n, n.child.asInstanceOf[Project])
      case n: RepartitionOperation if n.child.isInstanceOf[Project] =>
        hoistUnary(n, n.child.asInstanceOf[Project])
      case n: Deduplicate if n.child.isInstanceOf[Project] =>
        hoistUnary(n, n.child.asInstanceOf[Project])
      case n: Window if n.child.isInstanceOf[Project] =>
        hoistUnary(n, n.child.asInstanceOf[Project])

      case j: Join =>
        // Semi/anti joins emit only the left side — a right-side load
        // is dead output (column pruning deletes it); hoist left only.
        val rightEligible = j.joinType match {
          case LeftSemi | LeftAnti => false
          case _: ExistenceJoin => false
          case _ => true
        }
        val condRefs = j.condition.map(_.references).getOrElse(AttributeSet.empty)
        def sideLoads(side: LogicalPlan): Option[(Seq[Alias], Seq[NamedExpression], Project)] =
          side match {
            case p: Project => splitLoads(p).collect {
              case (loads, keeps)
                  if condRefs.intersect(
                    AttributeSet(loads.map(_.toAttribute))).isEmpty =>
                (loads, keeps, p)
            }
            case _ => None
          }
        val left = sideLoads(j.left)
        val right = if (rightEligible) sideLoads(j.right) else None
        if (left.isEmpty && right.isEmpty) j
        else {
          val newLeft = left.map { case (l, k, p) =>
            lowerProject(l, k, p.child) }.getOrElse(j.left)
          val newRight = right.map { case (l, k, p) =>
            lowerProject(l, k, p.child) }.getOrElse(j.right)
          val loads = left.map(_._1).getOrElse(Nil) ++
            right.map(_._1).getOrElse(Nil)
          restore(j.output, loads,
            j.copy(left = newLeft, right = newRight))
        }

      // Stacked projections where the upper one passes the bytes
      // through untouched (CollapseProject declines nondeterministic
      // merges): migrate the load one project up so the walk above
      // can keep hoisting. A load referenced inside a COMPUTED upper
      // expression is being consumed — leave it.
      case up @ Project(outerList, p: Project) =>
        splitLoads(p) match {
          case Some((loads, keeps)) =>
            val loadIds = loads.map(_.toAttribute.exprId).toSet
            val consumed = outerList.exists(e =>
              !e.isInstanceOf[AttributeReference] &&
                e.references.exists(r => loadIds(r.exprId)))
            val passed = outerList.collect {
              case a: AttributeReference if loadIds(a.exprId) => a.exprId
            }.toSet
            if (consumed || passed.isEmpty) up
            else {
              val (moved, stay) = loads.partition(a => passed(a.exprId))
              val byId = moved.map(a => a.exprId -> a).toMap
              val newOuter = outerList.map {
                case a: AttributeReference if byId.contains(a.exprId) =>
                  byId(a.exprId)
                case e => e
              }
              Project(newOuter, lowerProject(moved, keeps ++ stay, p.child))
            }
          case None => up
        }
    }
}
