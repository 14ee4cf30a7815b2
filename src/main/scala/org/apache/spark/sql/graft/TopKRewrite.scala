package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Descending, Expression, GreaterThanOrEqual, IntegerLiteral, IsNull, LessThanOrEqual, Literal, NullsFirst, Or, Rank, RowNumber, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, GlobalLimit, LocalLimit, LogicalPlan, Project, Sort, WindowGroupLimit}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.index.IndexConf

/** Automatic index-backed TOP-K pruning: rewrites the plain
  *
  * {{{ df.orderBy($"key".desc).limit(k) }}}
  *
  * shape — `GlobalLimit(k, LocalLimit(k, Sort(key, ...)))` over a single
  * indexed relation — into the same sort+limit above an injected
  * `key >= T` filter, where T is the index-proven kth-best per-block
  * bound ([[GraftFileIndex.topKBound]]): at least k non-null values are
  * >= T, so no row below T can rank, and the range predicate reaches
  * `listFiles` as ordinary file pruning. The user writes stock Spark;
  * the 50k-file cut of `graft.index.TopK.topKPruned` happens anyway.
  *
  * The GROUPED shape — `row_number()/rank() OVER (PARTITION BY part
  * ORDER BY key) <= k` via Spark's WindowGroupLimit lowering — rewrites
  * too (see [[rewriteGroupLimit]]).
  *
  * Soundness gates (any miss leaves the plan untouched):
  *   - the Sort is global and its FIRST key is a bare attribute of the
  *     relation's output — or a nested struct leaf (GetStructField
  *     chain) — present in the index schema (secondary keys are
  *     free: a row below T on the first key is beaten by >= k rows
  *     regardless of ties);
  *   - between Sort and the relation: only attribute-only Projects —
  *     a Filter invalidates the bound (the k proven rows might not
  *     survive it) and a computed Project changes what the key means, so
  *     filtered or computed inputs always bail;
  *   - nulls: `key >= T` drops null keys, which is exact for the default
  *     DESC NULLS LAST / ASC-with-NULLS-LAST orders (the bound exists
  *     only when >= k NON-NULL values rank above it); a NULLS FIRST
  *     order keeps nulls via `... OR key IS NULL` — nulls all survive,
  *     non-null survivors are a superset of the non-null top, so the
  *     lexicographic top-k is preserved either way;
  *   - the bound itself is None (fewer than k provable non-null values,
  *     unindexed key) — degrade to the plain sort, never a wrong answer.
  *
  * Idempotency under the optimizer's fixed point is structural: the
  * injected filter sits between the Sort and the relation, so a re-entry
  * bails at the filter gate. The gates, the memoized bound and the
  * predicate live in [[TopKRewriteRule.boundPredicate]], which the
  * explicit `graft.index.TopK` API calls too.
  */
class TopKRewriteRule(spark: SparkSession) extends Rule[LogicalPlan] {

  import TopKRewriteRule.boundPredicate

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!IndexConf(spark).topKRewrite) return plan
    plan.transformDown {
      case gl @ GlobalLimit(IntegerLiteral(k), ll: LocalLimit) if k >= 1 =>
        rewriteUnder(k, ll.child) match {
          case Some(newChild) => gl.copy(child = ll.copy(child = newChild))
          case None => gl
        }
      // the GROUPED twin: `row_number()/rank() OVER (PARTITION BY part
      // ORDER BY key DESC) <= k` — Spark's InferWindowGroupLimit lowers
      // that to a WindowGroupLimit node, the one hook that carries
      // (partitionSpec, orderSpec, rank fn, k) together
      case wgl: WindowGroupLimit if wgl.limit >= 1 =>
        rewriteGroupLimit(wgl).getOrElse(wgl)
    }
  }

  /** The Sort can hide under attribute-only Projects the optimizer's
    * column pruning inserts between LocalLimit and Sort (a count() over
    * the limit leaves an EMPTY Project there). */
  private def rewriteUnder(k: Int, p: LogicalPlan): Option[LogicalPlan] = p match {
    case s: Sort if s.global && s.order.nonEmpty =>
      boundPredicate(s.child, s.order.head, k).map { pred =>
        logInfo(s"graft top-k rewrite: injected $pred under sort for limit $k")
        s.copy(child = Filter(pred, s.child))
      }
    case pr: Project if pr.projectList.forall(_.isInstanceOf[AttributeReference]) =>
      rewriteUnder(k, pr.child).map(c => pr.copy(child = c))
    case _ => None
  }

  /** The grouped rewrite over Spark's own WindowGroupLimit lowering.
    * row_number and rank exclude a row with >= k strictly-better
    * predecessors; dense_rank does NOT (k better rows can share one
    * rank), so it bails. */
  private def rewriteGroupLimit(wgl: WindowGroupLimit): Option[WindowGroupLimit] = {
    wgl.rankLikeFunction match {
      case _: RowNumber | _: Rank =>
      case _ => return None
    }
    val order = wgl.orderSpec.headOption.getOrElse(return None)
    boundPredicate(wgl.child, order, wgl.limit, wgl.partitionSpec).map { pred =>
      logInfo(s"graft grouped top-k rewrite: injected $pred under " +
        s"window-group-limit ${wgl.limit}")
      wgl.copy(child = Filter(pred, wgl.child))
    }
  }
}

object TopKRewriteRule {

  /** The top-k cut for `order`'s first key over `child`: the predicate to
    * put directly above `child` so that every `ORDER BY order LIMIT j`
    * (j <= k) answer — per group when `partitionSpec` is non-empty — is
    * preserved, or None when no cut is provable. Shared by the rule's two
    * shapes and the explicit `graft.index.TopK` API.
    *
    * Gates (any miss is None): `child` is a [[GraftFileIndex]] relation
    * under attribute-only Projects (a Filter or computed column bails);
    * the key is that relation's attribute by exprId, or a struct-leaf
    * chain over one, and names a row-domain index field (element-domain
    * array stats describe element values, not row-sortable keys); each
    * partition expression is a bare PARTITION column of the index, so
    * each window group is a union of index partitions and the weakest
    * per-partition kth bound preserves every group's top-k (a row below
    * it is beaten by >= k non-null rows of its own index partition, all
    * inside its group). An empty spec is the global shape. */
  def boundPredicate(child: LogicalPlan, order: SortOrder, k: Long,
      partitionSpec: Seq[Expression] = Nil): Option[Expression] = {
    val (baseAttr, path) = MetadataAggregates.dottedPath(order.child).getOrElse(return None)
    val (lr, gfi) = relOf(child).getOrElse(return None)
    if (!lr.output.exists(_.exprId == baseAttr.exprId)) return None
    val indexedName = gfi.meta.indexSchema.fields
      .find(f => f.name.equalsIgnoreCase(path) &&
        !graft.index.IndexMetadata.isElementDomain(f))
      .map(_.name).getOrElse(return None)
    val partNames = gfi.meta.partitionSchema.fieldNames
    val partsArePartitionCols = partitionSpec.forall {
      case a: AttributeReference => lr.output.exists(_.exprId == a.exprId) &&
        partNames.exists(_.equalsIgnoreCase(a.name))
      case _ => false
    }
    val dt = order.child.dataType
    val largest = order.direction == Descending
    val bound =
      if (partitionSpec.isEmpty) gfi.topKBound(indexedName, dt, k, largest)
      else if (partsArePartitionCols) gfi.topKBoundByPartitions(indexedName, dt, k, largest)
      else None
    bound.map(boundPred(order.child, order, _))
  }

  /** The indexed relation under attribute-only projections (column
    * pruning); anything else — joins, filters, computed projects — bails. */
  private def relOf(p: LogicalPlan): Option[(LogicalRelation, GraftFileIndex)] =
    p match {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => fs.location match {
          case g: GraftFileIndex => Some((lr, g))
          case _ => None
        }
        case _ => None
      }
      case pr: Project if pr.projectList.forall(_.isInstanceOf[AttributeReference]) =>
        relOf(pr.child)
      case _ => None
    }

  /** The injected predicate for a proven canonical bound. NULLS FIRST
    * ranks nulls into the top-k — keep them all via the IS NULL arm; the
    * bound only cuts non-null rows that >= k non-null rows provably beat.
    * `keyExpr` may be a nested GetStructField chain — the predicate is
    * built on it verbatim, so the scan's nested pushdown binds it. */
  private def boundPred(keyExpr: Expression, order: SortOrder,
      bound: Any): Expression = {
    val dt = keyExpr.dataType
    val lit = Literal(MetadataAggregates.toCatalyst(dt, bound), dt)
    val cmp =
      if (order.direction == Descending) GreaterThanOrEqual(keyExpr, lit)
      else LessThanOrEqual(keyExpr, lit)
    if (order.nullOrdering == NullsFirst) Or(cmp, IsNull(keyExpr)) else cmp
  }
}
