package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructType}

/** Optimizer rule: rewrite the per-key top-k *pattern*
  *
  *   Project(p..., score, id, rank)
  *     Filter(rank <= k)
  *       Window(row_number() OVER (PARTITION BY p ORDER BY score DESC, id ASC) AS rank)
  *
  * into the graft_topk bounded-heap aggregate
  *
  *   Project(p..., col.score, col.id, pos + 1)
  *     Generate(posexplode(top))
  *       Aggregate(p, graft_topk(score, id, k) AS top)
  *
  * — the §2.11 ladder's (c) tier: a `Rule[LogicalPlan]` installed through
  * `spark.experimental.extraOptimizations`. The window plan shuffles and
  * sorts EVERY candidate row per key; the aggregate ships at most k
  * entries per key per map task and never sorts a group.
  *
  * The rewrite fires only when it is provably exact:
  *  - single row_number window expression, bound `rank <= lit` / `< lit`;
  *  - ORDER BY is (DoubleType attr DESC NULLS LAST, LongType attr ASC) —
  *    graft_topk's exact comparator;
  *  - the score attribute is non-nullable (the window ranks NULL scores
  *    last, the heap drops them — only provably-absent NULLs are safe);
  *  - partition keys are attributes and the projection above needs
  *    nothing beyond keys ∪ {score, id, rank} (the heap carries only
  *    (score, id) through the aggregate).
  */
object TopKRewriteRule extends Rule[LogicalPlan] {

  private def rankBound(cond: Expression): Option[(Attribute, Int)] =
    cond match {
      case LessThanOrEqual(a: Attribute, Literal(k: Int, IntegerType)) =>
        Some((a, k))
      case LessThan(a: Attribute, Literal(k: Int, IntegerType)) =>
        Some((a, k - 1))
      case GreaterThanOrEqual(Literal(k: Int, IntegerType), a: Attribute) =>
        Some((a, k))
      case GreaterThan(Literal(k: Int, IntegerType), a: Attribute) =>
        Some((a, k - 1))
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case p @ Project(ps, Filter(cond, w: Window)) =>
      rewrite(p, ps, cond, w).getOrElse(p)
  }

  private def rewrite(p: Project, ps: Seq[NamedExpression],
                      cond: Expression, w: Window): Option[LogicalPlan] = {
    for {
      (rankAttr, k) <- rankBound(cond)
      if k >= 1 && k <= 1000000
      // exactly one window expression: row_number aliased to the rank attr
      spec <- w.windowExpressions match {
        case Seq(a @ Alias(WindowExpression(RowNumber(), s: WindowSpecDefinition), _))
            if a.exprId == rankAttr.exprId => Some(s)
        case _ => None
      }
      // ORDER BY (score: double DESC NULLS LAST, id: long ASC) on attributes
      (score, id) <- spec.orderSpec match {
        case Seq(SortOrder(s: AttributeReference, Descending, NullsLast, _),
                 SortOrder(i: AttributeReference, Ascending, NullsFirst, _))
            if s.dataType == DoubleType && i.dataType == LongType &&
               !s.nullable => Some((s, i))
        case _ => None
      }
      // partition keys must be plain attributes
      partAttrs <- Some(spec.partitionSpec).collect {
        case exprs if exprs.forall(_.isInstanceOf[AttributeReference]) =>
          exprs.map(_.asInstanceOf[AttributeReference])
      }
      // the projection may need nothing the heap does not carry
      allowed = (partAttrs :+ score :+ id :+ rankAttr).map(_.exprId).toSet
      if ps.flatMap(_.references).forall(r => allowed.contains(r.exprId))
    } yield {
      val topk = GraftTopK(score, id, Literal(k))
      val topAlias = Alias(topk.toAggregateExpression(), "__top")()
      val agg = Aggregate(partAttrs,
        (partAttrs: Seq[NamedExpression]) :+ topAlias, w.child)
      val structT = topk.dataType
        .asInstanceOf[org.apache.spark.sql.types.ArrayType]
        .elementType.asInstanceOf[StructType]
      val posAttr = AttributeReference("pos", IntegerType, nullable = false)()
      val colAttr = AttributeReference("col", structT, nullable = false)()
      val gen = Generate(PosExplode(topAlias.toAttribute), Nil,
        outer = false, None, Seq(posAttr, colAttr), agg)
      def substitute(e: Expression): Expression = e.transformUp {
        case a: Attribute if a.exprId == score.exprId =>
          GetStructField(colAttr, 0, Some("score"))
        case a: Attribute if a.exprId == id.exprId =>
          GetStructField(colAttr, 1, Some("id"))
        case a: Attribute if a.exprId == rankAttr.exprId =>
          Add(posAttr, Literal(1))
      }
      val newPs = ps.map { ne =>
        substitute(ne) match {
          case n: NamedExpression => n
          case e => Alias(e, ne.name)(exprId = ne.exprId)
        }
      }
      Project(newPs, gen)
    }
  }
}
