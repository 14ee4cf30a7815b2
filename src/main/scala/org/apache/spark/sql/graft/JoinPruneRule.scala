package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, AttributeReference, EqualNullSafe, EqualTo, Expression, ExprId, GreaterThanOrEqual, In, InSet, LessThanOrEqual, Literal, NamedExpression, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, GlobalLimit, Join, LocalLimit, LocalRelation, LogicalPlan, Offset, Project, Sample, Tail}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types._

import graft.index.IndexConf

/** Automatic index-backed JOIN pruning: the zero-API form of
  * [[graft.index.JoinPrune]]. A user writes the stock star-join shape
  *
  * {{{ fact.join(dim.filter(...), fact("k") === dim("k")) }}}
  *
  * over an indexed fact, and this rule injects the probe the explicit API
  * calls build too (the companion's gate and tiers are the one
  * implementation of both) — turning a join key that is NOT a partition
  * column (the shape DPP cannot cover) into per-file sketch pruning:
  *
  *   - small dim (distinct keys under the cap): the keys become a static
  *     `factKey IN (...)` filter directly above the indexed relation,
  *     which `listFiles` folds against per-file min/max + bloom +
  *     dictionary — the fact side reads only files that can contain a
  *     matching key;
  *   - large dim (past the cap, [[IndexConf.joinPruneBloom]] on): the
  *     dim's `[min, max]` key range (a 2-value aggregate at any dim size)
  *     prunes files, and a distributed-built broadcast bloom gates rows
  *     map-side via the codegen'd [[graft.functions.InBloom]] probe, so
  *     only rows that MIGHT join reach the shuffle.
  *
  * Soundness (any gate missed leaves the join untouched):
  *   - join types: Inner (either side may be the indexed fact), LeftSemi
  *     (left only), and the NON-preserved side of LeftOuter/RightOuter —
  *     in every eligible orientation a fact row whose key has no dim
  *     match contributes nothing to the result (inner/semi drop it;
  *     outer emits the preserved row with nulls either way), so
  *     filtering by dim-key membership is semantics-free; full outer
  *     preserves both sides and is never touched; `EqualTo` only (null
  *     keys never match, and the injected `IN`/range/bloom drops nulls
  *     the join would drop anyway; null-safe `<=>` is NOT eligible and
  *     never matches here);
  *   - the dim subplan must pass [[JoinPruneRule.probeableDim]]: it is
  *     evaluated again at probe time, so it must be non-streaming and
  *     free of nondeterministic or subquery expressions and of
  *     `Limit`/`Offset`/`Tail`/`Sample` (row-set nondeterminism), or the
  *     probe's keys could miss join-time rows;
  *   - the dim must look selective: a Filter/LocalRelation somewhere in
  *     it, or leaf-scan bytes under
  *     [[IndexConf.joinPruneMaxDimBytes]] — an unfiltered full-table dim
  *     contains every key, so probing it buys nothing and costs a scan;
  *   - the fact-side key must resolve through attribute-only (or
  *     alias-of-attribute) Projects and pass-through Filters to an output
  *     attribute of a [[GraftFileIndex]]-backed relation, by exprId, and
  *     be present in the index schema. A struct-LEAF key
  *     (`fact("payload.user_id")`) resolves by its root attribute and
  *     joins the index schema on the relation-level dotted path — the
  *     same dot-string the nested fold prunes by.
  *
  * Idempotency under the optimizer's fixed point is structural, not
  * memoized: a re-entry sees an `IN`/`InSet`/`InBloom` conjunct on the
  * same key exprId between the join and the relation — or the literal
  * `EqualTo` that `OptimizeIn` lowers a one-element `IN` to — and skips; no
  * probe result is ever cached across queries, so a dim whose DATA
  * changed between queries is always re-probed (an IN-list of stale keys
  * would silently drop join rows; staleness is structurally impossible
  * here). A user's own `k IN (...)` filter suppresses the rewrite the
  * same way — their list already cuts files, and re-probing under it
  * could only add a redundant conjunct. Joins the probe REJECTS (cap
  * exceeded with bloom off, non-selective dim) land in a bounded
  * negative memo so the fixed point's later iterations — and repeated
  * session queries of the same shape — don't re-scan the dim; negative
  * entries can only cost a missed optimization, never a wrong answer.
  *
  * At 100 TB this is the selective star join: a thousand-key dim against
  * a million-file fact becomes a thousand-entry IN probe folded against
  * per-file sketches on the driver/cluster, reading the handful of fact
  * files that matter — before AQE, before the shuffle, before any fact
  * byte is opened.
  */
class JoinPruneRule(spark: SparkSession) extends Rule[LogicalPlan]
    with PredicateHelper {

  import JoinPruneRule._

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val conf = IndexConf(spark)
    if (!conf.joinPrune || inProbe.get()) return plan
    plan.transformDown {
      case j @ Join(_, _, Inner, Some(_), _) =>
        rewrite(j, conf, factOnLeft = true)
          .orElse(rewrite(j, conf, factOnLeft = false)).getOrElse(j)
      // semi joins emit LEFT rows only, so BOTH sides may be filtered: a
      // left row without a right-key match is dropped by the join anyway,
      // and a right row whose key misses every left key can never create
      // a match — pruning the probe side cuts the indexed EXISTS-subquery
      // relation too
      case j @ Join(_, _, LeftSemi, Some(_), _) =>
        rewrite(j, conf, factOnLeft = true)
          .orElse(rewrite(j, conf, factOnLeft = false)).getOrElse(j)
      // anti joins emit left rows with NO match: the left side must never
      // lose rows (its non-matching rows ARE the result), but a right row
      // whose key misses every left key can never KILL a left row, so the
      // right/probe side prunes — the NOT-EXISTS decontamination shape
      // with a huge indexed corpus on the right. Null-aware NOT IN never
      // reaches here: its condition is an Or(=, isnull(=)), not a plain
      // equi-conjunct, and dropping right rows could flip its
      // any-null-key semantics
      case j @ Join(_, _, org.apache.spark.sql.catalyst.plans.LeftAnti, Some(_), _) =>
        rewrite(j, conf, factOnLeft = false).getOrElse(j)
      // existence joins (IN-subqueries under a disjunction) emit every
      // left row plus a match flag — the left side must never lose rows,
      // but a right row whose key misses every left key can never set
      // any flag, so the probe side prunes exactly like semi/anti
      case j @ Join(_, _, _: org.apache.spark.sql.catalyst.plans.ExistenceJoin, Some(_), _) =>
        rewrite(j, conf, factOnLeft = false).getOrElse(j)
      // outer joins: only the NON-preserved side may be filtered — a
      // right row whose key has no left match contributes nothing to a
      // LEFT OUTER result (unmatched left rows emit nulls either way),
      // and symmetrically for RIGHT OUTER; the preserved side must never
      // lose rows, so its orientation is not attempted
      case j @ Join(_, _, LeftOuter, Some(_), _) =>
        rewrite(j, conf, factOnLeft = false).getOrElse(j)
      case j @ Join(_, _, RightOuter, Some(_), _) =>
        rewrite(j, conf, factOnLeft = true).getOrElse(j)
    }
  }

  /** One orientation of one join: every eligible equi-conjunct whose
    * fact-side key lands on an indexed relation probes the dim and
    * injects independently (a composite-key join gets one probe per key
    * — each is sound alone, and their conjunction only cuts more). The
    * fact-side key may be a bare attribute OR a struct-leaf chain
    * (`fact("payload.user_id") === dim("uid")`) — the index prunes
    * nested leaves by dot-string, so the injected IN composes the same
    * way. */
  private def rewrite(j: Join, conf: IndexConf, factOnLeft: Boolean): Option[Join] = {
    val (factPlan, dimPlan) = if (factOnLeft) (j.left, j.right) else (j.right, j.left)
    val conjuncts = splitConjunctivePredicates(j.condition.get)
    // orient each pair: fact key (attribute or struct chain rooted in the
    // fact side), dim key (bare attribute of the dim side). Segments are
    // decomposed STRUCTURALLY (never by splitting a dotted string — an
    // attribute NAME may itself contain a literal dot)
    def factKey(e: Expression): Option[(Expression, AttributeReference, Seq[String])] =
      keySegments(e) match {
        case Some((root, segs)) if factPlan.outputSet.contains(root) =>
          Some((e, root, segs))
        case _ => None
      }
    def dimAttr(e: Expression): Option[AttributeReference] = e match {
      case a: AttributeReference if dimPlan.outputSet.contains(a) => Some(a)
      case _ => None
    }
    val pairs = conjuncts.flatMap {
      case EqualTo(a, b) =>
        factKey(a).flatMap(f => dimAttr(b).map((f, _)))
          .orElse(factKey(b).flatMap(f => dimAttr(a).map((f, _))))
      case _ => None
    }
    var cur = factPlan
    var changed = false
    pairs.foreach { case ((factKey, rootAttr, restPath), dimKey) =>
      tryInject(cur, dimPlan, factKey, rootAttr, restPath, dimKey, conf).foreach { nf =>
        cur = nf; changed = true
      }
    }
    if (!changed) None
    else Some(if (factOnLeft) j.copy(left = cur) else j.copy(right = cur))
  }

  private def tryInject(
      factPlan: LogicalPlan,
      dimPlan: LogicalPlan,
      factKey: Expression,
      rootAttr: AttributeReference,
      restPath: Seq[String],
      dimKey: AttributeReference,
      conf: IndexConf): Option[LogicalPlan] = {
    // fact side: resolve the key's ROOT attribute to the indexed
    // relation's own attribute (a nested chain rides that root — the
    // pass-through Project walk preserves its struct type, so the chain
    // rebuilt over the relation attribute extracts the same leaf)
    val (lr, gfi, relAttr) = resolveIndexed(factPlan, rootAttr.exprId).getOrElse(return None)
    // the index field joins on the RELATION-level dotted path (alias
    // renames between the join and the relation change the root name)
    val relPath = (relAttr.name +: restPath).mkString(".")
    if (!gfi.meta.indexSchema.fieldNames.exists(_.equalsIgnoreCase(relPath))) return None
    // structural idempotency: an IN/InSet/InBloom conjunct on this key
    // anywhere on the fact side means the probe already happened (ours or
    // the user's own equivalent cut)
    if (alreadyProbed(factPlan, relAttr.exprId, rootAttr.exprId, restPath)) return None
    // dim side: safe and worthwhile to evaluate at optimize time
    if (!probeableDim(dimPlan)) return None
    if (!selective(dimPlan, conf.joinPruneMaxDimBytes)) return None
    if (!inEligible(factKey.dataType)) return None

    val negKey = memoKey(dimPlan, dimKey, conf)
    if (negativeMemo.containsKey(negKey)) return None

    // the probe is built over the key AS THE RELATION SEES IT: the
    // relation attribute itself, or the struct chain rebuilt over it.
    // transformUp, NOT transformDown: the replacement chain CONTAINS an
    // AttributeReference, which a top-down rewrite would re-match inside
    // its own replacement forever
    val relKey = factKey.transformUp { case _: AttributeReference => relAttr }
    val bound = probe(dimPlan, dimKey, relKey, conf).getOrElse {
      negativeMemo.put(negKey, java.lang.Boolean.TRUE)
      trimMemo()
      return None
    }
    logInfo(s"graft join prune: injected $bound above ${gfi.rootPaths.headOption.getOrElse("")}")
    // transformUp: a transformDown would recurse into the replacement's
    // children and re-match the same relation forever
    Some(factPlan.transformUp {
      case rel: LogicalRelation if rel eq lr => Filter(bound, rel)
    })
  }

  /** Execute the dim's key column at optimize time (guarded against
    * re-entering this rule): the IN tier under the key cap, then the
    * range+bloom tier when [[IndexConf.joinPruneBloom]] allows it. None =
    * past the cap with bloom off / bloom-ineligible key. */
  private def probe(
      dimPlan: LogicalPlan,
      dimKey: AttributeReference,
      key: Expression,
      conf: IndexConf): Option[Expression] = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    inProbe.set(true)
    try {
      val keys = org.apache.spark.sql.classic.Dataset
        .ofRows(classic, Project(Seq(dimKey.asInstanceOf[NamedExpression]), dimPlan))
      inListProbe(keys, key, conf.joinPruneMaxKeys).orElse {
        if (conf.joinPruneBloom && bloomEligible(key.dataType)) {
          Some(rangeBloomProbe(keys, key, expectedKeys = 0L, fpp = 0.03))
        } else None
      }
    } finally inProbe.set(false)
  }

  /** Walk the fact side through attribute-only / alias-of-attribute
    * Projects and pass-through Filters to a GraftFileIndex relation,
    * tracking the exprId substitutions aliases introduce; returns the
    * relation plus the RELATION-level attribute the join key resolves to. */
  private def resolveIndexed(
      p: LogicalPlan, key: ExprId): Option[(LogicalRelation, GraftFileIndex, AttributeReference)] =
    p match {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => fs.location match {
          case g: GraftFileIndex =>
            lr.output.collectFirst {
              case a: AttributeReference if a.exprId == key => (lr, g, a)
            }
          case _ => None
        }
        case _ => None
      }
      case pr: Project =>
        // map the key through this Project: itself (bare attribute) or the
        // attribute under an Alias; computed aliases bail
        val mapped = pr.projectList.collectFirst {
          case a: AttributeReference if a.exprId == key => a.exprId
          case al @ Alias(child: AttributeReference, _) if al.exprId == key => child.exprId
        }
        val passThrough = pr.projectList.forall {
          case _: AttributeReference => true
          case Alias(_: AttributeReference, _) => true
          case _ => false
        }
        if (passThrough) mapped.flatMap(resolveIndexed(pr.child, _)) else None
      case f: Filter => resolveIndexed(f.child, key)
      case _ => None
    }

  /** Any IN/InSet/InBloom conjunct on the key between the join and the
    * relation = the probe already happened (either exprId: the key's
    * root as the join sees it, or as the relation outputs it; nested
    * keys additionally match on the struct-leaf path). */
  private def alreadyProbed(
      p: LogicalPlan, relId: ExprId, topId: ExprId,
      restPath: Seq[String]): Boolean = {
    def onKey(e: Expression): Boolean =
      keySegments(e).exists { case (root, segs) =>
        (root.exprId == relId || root.exprId == topId) &&
          segs.length == restPath.length &&
          // case-insensitive like every path match in the engine: the
          // user's own filter may spell the leaf in different case than
          // the join condition under default resolution
          segs.zip(restPath).forall { case (a, b) => a.equalsIgnoreCase(b) }
      }
    p.exists {
      case f: Filter => splitConjunctivePredicates(f.condition).exists {
        case In(v, _) => onKey(v)
        case InSet(v, _) => onKey(v)
        // OptimizeIn rewrites a single-element injected IN to EqualTo in
        // the SAME fixed-point batch; without this case every later pass
        // would re-run the dim probe (a real collect job) from scratch.
        // A user's own literal equality on the key is the same evidence:
        // the fold already prunes by it, a probe under it is redundant
        case EqualTo(v, _: Literal) => onKey(v)
        case EqualTo(_: Literal, v) => onKey(v)
        case EqualNullSafe(v, _: Literal) => onKey(v)
        case EqualNullSafe(_: Literal, v) => onKey(v)
        // OptimizeIn lowers an empty IN to if(isnotnull(k), false, null);
        // a constant-false filter means the subtree is already provably
        // empty — nothing left to prune either way
        case org.apache.spark.sql.catalyst.expressions.If(
          org.apache.spark.sql.catalyst.expressions.IsNotNull(v), Literal.FalseLiteral, _) =>
          onKey(v)
        case Literal.FalseLiteral => true
        case c => c.exists {
          case graft.functions.InBloom(v, _) => onKey(v)
          case _ => false
        }
      }
      case _ => false
    }
  }

  /** Worth probing: something already cuts the dim (a REAL Filter —
    * the optimizer infers bare `IsNotNull(joinKey)` filters onto every
    * equi-join child, which cut nothing — or local rows), or its leaf
    * scans are small outright. Limits are NOT selectivity evidence here:
    * a limit-bearing dim already bailed at the row-set-determinism gate
    * above, because its probe-time and join-time row sets can differ. */
  private def selective(dim: LogicalPlan, maxBytes: Long): Boolean =
    dim.exists {
      case f: Filter => splitConjunctivePredicates(f.condition).exists {
        case _: org.apache.spark.sql.catalyst.expressions.IsNotNull => false
        case _ => true
      }
      case _: LocalRelation => true
      case _ => false
    } || dim.stats.sizeInBytes <= maxBytes

  private def inEligible(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | StringType |
         DateType | TimestampType | TimestampNTZType | DoubleType | FloatType => true
    case _: DecimalType => true
    case _ => false
  }

  /** Decompose an attribute-or-struct-leaf key into (root attribute,
    * leaf segments) — structurally, so attribute names containing
    * literal dots never corrupt the path. Nil segments = a bare key. */
  private def keySegments(e: Expression): Option[(AttributeReference, Seq[String])] =
    e match {
      case a: AttributeReference => Some((a, Nil))
      case g: org.apache.spark.sql.catalyst.expressions.GetStructField =>
        keySegments(g.child).map { case (a, segs) => (a, segs :+ g.extractFieldName) }
      case _ => None
    }

  /** Digest memo key: a fixed-size string, never the canonicalized plan
    * object itself — a plan key would pin the dim's whole object graph
    * (HadoopFsRelation → FileIndex listing → SparkSession) in the
    * process-global map past query and session lifetime. Canonicalized
    * toString normalizes exprIds (stable across re-parses of the same
    * shape); its field-list truncation can at worst make two distinct
    * dims share a digest, which skips a probe — a missed optimization,
    * never a wrong answer. The bloom flag is part of the key so a shape
    * rejected with bloom OFF is re-probed after the user turns it on. */
  private def memoKey(dimPlan: LogicalPlan, dimKey: Expression, conf: IndexConf): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(dimPlan.canonicalized.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    md.update(0.toByte)
    md.update(dimKey.canonicalized.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    md.update(s"|${conf.joinPruneMaxKeys}|${conf.joinPruneBloom}"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.util.Base64.getEncoder.encodeToString(md.digest())
  }

  private def trimMemo(): Unit = {
    // bounded, eviction order unimportant (pure optimization memo)
    while (negativeMemo.size() > 128) {
      val it = negativeMemo.keySet().iterator()
      if (it.hasNext) { it.next(); it.remove() }
    }
  }
}

object JoinPruneRule {
  /** Re-entrancy guard: the probe executes a query on the same session,
    * whose own optimization must not re-fire this rule (a dim containing
    * another indexed join would otherwise recurse). */
  private val inProbe = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }

  /** Joins the probe REJECTED (cap exceeded, bloom-ineligible): skipping
    * a probe can only miss an optimization, never change results — safe
    * to remember across queries, unlike probe RESULTS (stale keys would
    * drop rows). Keyed on a DIGEST of the canonicalized (dim plan, key,
    * cap, bloom flag) — see [[JoinPruneRule.memoKey]]. */
  private val negativeMemo =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  /** The dim gate, shared by the rule and the explicit
    * `graft.index.JoinPrune` API: a probe evaluates the dim once for its
    * keys and the join evaluates it again, so both passes must yield the
    * same rows. Streaming dims bail. Expression-level nondeterminism
    * (`rand()`) is caught per expression; `PlanExpression.deterministic`
    * does not inspect its inner plan, so subquery-bearing dims bail
    * outright. Row-SET nondeterminism is operator-level and invisible to
    * `Expression.deterministic`: limit/offset/tail over an unordered
    * exchange and sample (seeded per partition, order-sensitive within
    * one) can re-yield a DIFFERENT key set when the join re-executes the
    * dim than the one the probe collected — an IN of the probe's keys
    * would then silently drop join rows. */
  def probeableDim(dim: LogicalPlan): Boolean =
    !dim.isStreaming && !dim.exists { node =>
      node.expressions.exists(_.exists(x => !x.deterministic ||
        x.isInstanceOf[org.apache.spark.sql.catalyst.expressions.PlanExpression[_]])) ||
        (node match {
          case _: GlobalLimit | _: LocalLimit | _: Offset | _: Tail | _: Sample => true
          case _ => false
        })
    }

  /** The IN tier: the distinct non-null values of `keys` (a one-column
    * frame of dim join keys) as `key IN (...)`, or None past `maxKeys`.
    * The cap probe is `limit(maxKeys + 1)`, so the dim is never collected
    * unboundedly. No non-null dim keys means no fact row can match: an
    * EMPTY IN is the strongest pushable form of that fact — it translates
    * to a source filter the index folds to ZERO files (unlike a raw
    * `false` literal, which is not source-pushable and would leave the
    * full listing intact when the rule runs in the late user-optimizer
    * batch). */
  def inListProbe(keys: DataFrame, key: Expression, maxKeys: Int): Option[Expression] = {
    val dt = keys.schema.head.dataType
    val found = nonNull(keys).distinct().limit(maxKeys + 1).collect().map(_.get(0))
    if (found.length > maxKeys) None
    else Some(In(key, found.toSeq.map(Literal.create(_, dt))))
  }

  /** The range+bloom tier, for dims of any size: the dim's `[min, max]`
    * key range (one aggregate, which also counts the keys) prunes files,
    * and a bloom of the keys built distributed (`treeAggregate` of
    * per-partition partials, only sketch bytes reach the driver) and
    * broadcast once gates rows map-side via the codegen'd
    * [[graft.functions.InBloom]] probe. `expectedKeys` sizes the bloom
    * (0 = the key count, at least 64) at false-positive rate `fpp`. No
    * non-null keys gives the empty IN of [[inListProbe]]. */
  def rangeBloomProbe(keys: DataFrame, key: Expression, expectedKeys: Long,
      fpp: Double): Expression = {
    import org.apache.spark.sql.functions.{col, count, lit, max, min}
    val dt = keys.schema.head.dataType
    val keyed = nonNull(keys)
    val agg = keyed.agg(min(col("__k")), max(col("__k")), count(lit(1))).head
    if (agg.getLong(2) == 0L) return In(key, Nil)
    val capacity = if (expectedKeys > 0) expectedKeys else math.max(agg.getLong(2), 64L)
    val bf = keyed.rdd.treeAggregate(
      org.apache.spark.util.sketch.BloomFilter.create(capacity, fpp))(
      seqOp = (f, row) => {
        row.get(0) match {
          case s: String =>
            f.putBinary(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          case n: java.lang.Number => f.putLong(n.longValue())
          case other => throw new IllegalArgumentException(s"unsupported key $other")
        }
        f
      },
      combOp = (a, b) => { a.mergeInPlace(b); a })
    val bc = keys.sparkSession.sparkContext.broadcast(bf)
    And(
      And(GreaterThanOrEqual(key, Literal.create(agg.get(0), dt)),
        LessThanOrEqual(key, Literal.create(agg.get(1), dt))),
      graft.functions.InBloom(key, bc))
  }

  /** [[graft.functions.InBloom]]'s key domain. */
  def bloomEligible(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | StringType => true
    case _ => false
  }

  private def nonNull(keys: DataFrame): DataFrame =
    keys.toDF("__k").filter(org.apache.spark.sql.functions.col("__k").isNotNull)
}
