package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Expression, Literal, NamedExpression, PlanExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.orc.OrcFileFormat
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.index.{BlockStats, Canon, IndexConf, Metastore, Sketch, Sources}

/** Running fold of one column's statistics across every (file × row-group)
  * entry of the index files table.
  *
  * `nullsKnown` is false as soon as any block's null count is unrecorded;
  * `boundsKnown` is false as soon as any block provably holds non-null
  * values but carries no min/max (then no metadata-only min/max is sound).
  * A block whose column entry is absent entirely means the FILE's schema
  * lacks the column — under schema-merged reads those rows surface as
  * NULL, so it contributes `rowCount` nulls and no bounds. */
case class MetaColAgg(
    min: Option[Any],
    max: Option[Any],
    nulls: Long,
    nullsKnown: Boolean,
    boundsKnown: Boolean) {

  def merge(o: MetaColAgg): MetaColAgg = MetaColAgg(
    MetadataAggregates.mergeBound(min, o.min, keepMin = true),
    MetadataAggregates.mergeBound(max, o.max, keepMin = false),
    nulls + o.nulls,
    nullsKnown && o.nullsKnown,
    boundsKnown && o.boundsKnown)
}

/** Whole-table fold: total row count plus per-column [[MetaColAgg]]. */
case class MetaTableAgg(rows: Long, cols: Map[String, MetaColAgg]) {
  def merge(o: MetaTableAgg): MetaTableAgg = MetaTableAgg(
    rows + o.rows,
    cols.map { case (c, a) => c -> o.cols.get(c).map(a.merge).getOrElse(a) })
}

object MetadataAggregates {

  def zero(cols: Seq[String]): MetaTableAgg = MetaTableAgg(
    0L, cols.map(_ -> MetaColAgg(None, None, 0L, nullsKnown = true, boundsKnown = true)).toMap)

  private[graft] def mergeBound(a: Option[Any], b: Option[Any], keepMin: Boolean): Option[Any] =
    (a, b) match {
      case (Some(x), Some(y)) =>
        val c = Canon.compare(x, y)
        Some(if ((c <= 0) == keepMin) x else y)
      case (x, None) => x
      case (None, y) => y
    }

  /** Fold one file's blocks into the running aggregate. Pure function of
    * index metadata — runs driver-side for small tables and inside the
    * distributed files-table job above the pruning threshold. */
  def foldFile(acc: MetaTableAgg, blocks: Seq[BlockStats], cols: Seq[String]): MetaTableAgg = {
    var rows = acc.rows
    var colAgg = acc.cols
    blocks.foreach { b =>
      rows += b.rowCount
      cols.foreach { c =>
        val cur = colAgg(c)
        val next = b.columns.get(c) match {
          case None =>
            // file schema lacks the column: rowCount nulls, no bounds
            cur.copy(nulls = cur.nulls + b.rowCount)
          case Some(st) =>
            val withNulls = st.nullCount match {
              case Some(nc) => cur.copy(nulls = cur.nulls + nc)
              case None => cur.copy(nullsKnown = false)
            }
            val hasValues = st.nullCount match {
              case Some(nc) => nc < b.rowCount
              // null count unknown: values exist iff bounds were recorded;
              // boundless-and-unknown must poison boundsKnown (can't
              // distinguish all-null from missing stats)
              case None => true
            }
            if (!hasValues) withNulls
            else (st.min, st.max) match {
              case (Some(mn), Some(mx)) => withNulls.copy(
                min = mergeBound(withNulls.min, Some(mn), keepMin = true),
                max = mergeBound(withNulls.max, Some(mx), keepMin = false))
              case _ if st.nullCount.isEmpty && st.min.isEmpty =>
                // unknown nulls AND no bounds: possibly all null — sound
                // for bounds only if we also give up on them
                withNulls.copy(boundsKnown = false)
              case _ => withNulls.copy(boundsKnown = false)
            }
        }
        colAgg = colAgg.updated(c, next)
      }
    }
    MetaTableAgg(rows, colAgg)
  }

  /** Are the stored min/max ATTAINED data values (not merely sound
    * bounds) for this column type and source format?
    *
    * Parquet INT32/INT64-backed stats are exact attained values, as are
    * the full-scan-fallback patches (computed from the data). ORC integer
    * and date stats are exact; ORC TIMESTAMP bounds are millisecond-
    * widened at build (+999 µs on max — sound for pruning, NOT attained),
    * and string bounds in BOTH formats may be truncated (parquet-mr
    * binary truncation, ORC lowerBound/upperBound) — a bound that is not
    * a data value must never be returned as a min/max ANSWER, so those
    * fall back to the scan (strings can still be answered exactly through
    * a dict sketch — see [[MetadataAggregateRule]]). */
  def boundsAttained(dt: DataType, source: String): Boolean = dt match {
    case IntegerType | LongType | DateType => true
    case TimestampType | TimestampNTZType => source == Sources.Parquet
    // Double/Float bounds are exact data values: parquet footers are
    // trusted only from NaN-POISONING writers (non-NaN bounds then PROVE
    // NaN absence; poisoned footers degrade at build and are patched by
    // the full-scan fallback from data — StatisticsBuilder.fpFooterTrusted);
    // footers from NaN-skipping/unknown writers and ALL ORC FP stats come
    // from the fallback, which computes Spark-semantics bounds (max = NaN
    // when NaN present). One caveat, documented: a min of -0.0 answers as
    // 0.0 (the canonical domain normalizes them — SQL-equal values).
    case DoubleType | FloatType => true
    // int-backed parquet / ORC decimal stats are exact unscaled values;
    // binary-backed ones come from the fallback
    case d: DecimalType => d.precision <= Decimal.MAX_LONG_DIGITS
    case _ => false
  }

  /** A (possibly nested) column reference: a bare attribute, or a
    * GetStructField chain over one — the base attribute plus the dotted
    * path (`payload.inner.score`) the index schema keys nested leaves
    * on. Anything else (array ordinals, map lookups, computed exprs)
    * is None. */
  def dottedPath(e: Expression): Option[(AttributeReference, String)] = e match {
    case a: AttributeReference => Some((a, a.name))
    case g: org.apache.spark.sql.catalyst.expressions.GetStructField =>
      dottedPath(g.child).map { case (a, p) => (a, p + "." + g.extractFieldName) }
    case _ => None
  }

  /** Canonical value (Long/String — see [[Canon]]) → Catalyst internal. */
  def toCatalyst(dt: DataType, canon: Any): Any = (dt, canon) match {
    case (IntegerType, l: Long) => l.toInt
    case (DateType, l: Long) => l.toInt
    case (LongType, l: Long) => l
    case (TimestampType, l: Long) => l
    case (TimestampNTZType, l: Long) => l
    case (DoubleType, l: Long) => Canon.sortableToDouble(l)
    case (FloatType, l: Long) => Canon.sortableToFloat(l)
    case (d: DecimalType, l: Long) => Decimal(l, d.precision, d.scale)
    case (StringType, s: String) => UTF8String.fromString(s)
    case other => throw new IllegalArgumentException(s"bad canonical pair $other")
  }
}

/** Answers eligible aggregates over an INDEXED relation from the index
  * metadata alone — zero data files opened.
  *
  * Rewrites (when `spark.sql.index.metadataOnlyAggregates`, default on):
  *   - global `count(*)`, `count(col)`, `min(col)`, `max(col)` over an
  *     unfiltered indexed relation → a [[LocalRelation]] computed from
  *     the files-table row counts / null counts / bounds;
  *   - `SELECT DISTINCT col` and `count(DISTINCT col)` where the index
  *     carries EXACT membership sketches (dict / bitmap) → the union of
  *     the per-file sketch value sets (plus a NULL row when null counts
  *     prove nulls exist);
  *   - the same aggregates under a PARTITION-COLUMN-only `WHERE` and/or
  *     `GROUP BY` partition columns → per-partition metadata folds,
  *     merged per group (the "metadata-only query" Hive/Spark expose as
  *     `spark.sql.optimizer.metadataOnly`, generalized to row counts and
  *     bounds); min/max/count over a partition column itself come from
  *     the partition values of non-empty partitions.
  *
  * Soundness rules: every block's contribution must be KNOWN (else no
  * rewrite — the plan is left untouched and the scan answers); min/max
  * only for types whose stored bounds are attained data values
  * ([[MetadataAggregates.boundsAttained]]); strings via dict sketches
  * only (global shapes only — sketches are not partition-scoped, so
  * filtered/grouped string and DISTINCT paths bail). Any non-partition
  * filter, non-partition grouping, or other aggregate function blocks
  * the rewrite. Grouped results drop zero-row partitions, matching scan
  * semantics exactly.
  *
  * Staleness contract: identical to every indexed scan — results reflect
  * the table as of index create/refresh (the reference's "appends after
  * indexing are invisible", README.md:9-14). The same relation's SCAN
  * lists files from the same metadata, so the rewrite changes cost, not
  * visibility.
  *
  * Scale: the fold over per-file stats is a driver pass below the
  * distributed-pruning threshold and a Spark job over the files table
  * above it — the same two-tier design as listFiles pruning, so a
  * million-file table answers count/min/max with one metadata-sized job
  * and the driver never holds per-file state. Results memoize on the
  * [[GraftFileIndex]] instance (per-query lifetime), so optimizer
  * fixed-point iterations do not recompute.
  */
class MetadataAggregateRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!IndexConf(spark).metadataOnlyAggregates) return plan
    plan.transformDown {
      case agg: Aggregate => rewrite(agg).getOrElse(agg)
    }
  }

  /** The relation under the aggregate, looking through projections
    * (column pruning, including ALIAS-carrying projects — Spark's
    * NestedColumnAliasing rewrites `min(payload.user_id)` into
    * `min(_extract_user_id)` over `Project(payload.user_id AS
    * _extract_user_id)`, so the alias map lets [[rewrite]] resolve those
    * attributes back to their defining expressions) and
    * PARTITION-COLUMN-only filters (accumulated and evaluated against
    * partition values — the exact pruning `listFiles` step 1 would
    * apply). Any other Filter blocks the match — data-filtered
    * aggregates always scan. */
  private def indexedChild(plan: LogicalPlan)
      : Option[(LogicalRelation, GraftFileIndex, Seq[Expression],
        Map[org.apache.spark.sql.catalyst.expressions.ExprId, Expression])] =
    plan match {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => fs.location match {
          case g: GraftFileIndex => Some((lr, g, Nil, Map.empty))
          case _ => None
        }
        case _ => None
      }
      case p: Project if p.projectList.forall(e =>
          e.isInstanceOf[AttributeReference] || e.isInstanceOf[Alias]) =>
        indexedChild(p.child).map { case (lr, gfi, conds, subst) =>
          // inline LOWER substitutions into this project's alias bodies so
          // every map value is expressed over the relation's own output
          val added = p.projectList.collect {
            case al: Alias => al.exprId -> al.child.transformUp {
              case a: AttributeReference if subst.contains(a.exprId) => subst(a.exprId)
            }
          }
          (lr, gfi, conds, subst ++ added)
        }
      case f: Filter =>
        indexedChild(f.child).flatMap { case (lr, gfi, conds, subst) =>
          val partNames = gfi.meta.partitionSchema.fieldNames
          // partition-filter classification must bind by exprId, not name:
          // an alias from a lower Project can SHADOW a partition column's
          // name (e.g. rand().as("o_year") when pushdown is blocked), and
          // compilePredicate would then evaluate the impostor against
          // partition values. Only references that are the relation's OWN
          // output attributes qualify — anything defined by an alias
          // (present in subst) is by construction not in lr.output.
          val ok = f.condition.deterministic &&
            f.condition.references.nonEmpty &&
            f.condition.references.forall(a =>
              lr.output.exists(_.exprId == a.exprId) &&
                partNames.exists(_.equalsIgnoreCase(a.name))) &&
            !f.condition.exists(_.isInstanceOf[PlanExpression[_]])
          if (ok) Some((lr, gfi, conds :+ f.condition, subst)) else None
        }
      case _ => None
    }

  private sealed trait Spec
  private case object RowsCount extends Spec
  private case class ColCount(f: StructField) extends Spec
  private case class ColCountDistinct(f: StructField) extends Spec
  private case class ColMin(f: StructField) extends Spec
  private case class ColMax(f: StructField) extends Spec
  private case class PartCount(fieldIdx: Int) extends Spec
  private case class PartMin(fieldIdx: Int) extends Spec
  private case class PartMax(fieldIdx: Int) extends Spec
  private case class GroupKey(pos: Int) extends Spec

  private def rewrite(agg: Aggregate): Option[LocalRelation] = {
    val (lr, gfi, partFilters, subst) = indexedChild(agg.child).getOrElse(return None)
    val meta = gfi.meta
    val cap = gfi.conf.metadataDistinctMaxValues
    val unfiltered = partFilters.isEmpty

    // an aggregated attribute must be one of this relation's output
    // attributes AND an indexed DATA column (or a partition column —
    // resolved separately); any other column bails
    def fieldOf(a: AttributeReference): Option[StructField] =
      if (!lr.output.exists(_.exprId == a.exprId)) None
      else meta.indexSchema.fields.find(f => f.name.equalsIgnoreCase(a.name) &&
        !graft.index.IndexMetadata.isElementDomain(f))

    // ... including NESTED leaves: min/max/count over payload.user_id
    // resolve through the dotted index-schema name, after inlining any
    // NestedColumnAliasing extraction aliases back to their struct paths
    // (null semantics compose — a null struct counts as a null leaf,
    // exactly what count(payload.user_id) skips)
    def fieldOfExpr(e: Expression): Option[StructField] = {
      val inlined = e.transformUp {
        case a: AttributeReference if subst.contains(a.exprId) => subst(a.exprId)
      }
      MetadataAggregates.dottedPath(inlined).flatMap { case (a, path) =>
        if (!lr.output.exists(_.exprId == a.exprId)) None
        else meta.indexSchema.fields.find(f => f.name.equalsIgnoreCase(path) &&
          !graft.index.IndexMetadata.isElementDomain(f))
      }
    }

    def partFieldIdx(a: AttributeReference): Option[Int] =
      if (!lr.output.exists(_.exprId == a.exprId)) None
      else Some(meta.partitionSchema.fieldNames.indexWhere(_.equalsIgnoreCase(a.name)))
        .filter(_ >= 0)

    def distinctValues(f: StructField): Option[Seq[Any]] =
      gfi.metadataDistinct(f.name, f.dataType, cap)

    def parseAgg(ae: AggregateExpression): Option[Spec] =
      if (ae.filter.nonEmpty) None
      else ae.aggregateFunction match {
        case Count(Seq(l: Literal)) if !ae.isDistinct && l.value != null =>
          Some(RowsCount)
        case Count(Seq(e)) if !ae.isDistinct =>
          (e match {
            case a: AttributeReference =>
              fieldOf(a).map(ColCount).orElse(partFieldIdx(a).map(PartCount))
            case _ => None
          }).orElse(fieldOfExpr(e).map(ColCount))
        case Count(Seq(e)) if ae.isDistinct && unfiltered =>
          (e match {
            case a: AttributeReference => fieldOf(a).map(ColCountDistinct)
            case _ => None
          }).orElse(fieldOfExpr(e).map(ColCountDistinct))
        case Min(e) if !ae.isDistinct =>
          (e match {
            case a: AttributeReference =>
              fieldOf(a).map(ColMin).orElse(partFieldIdx(a).map(PartMin))
            case _ => None
          }).orElse(fieldOfExpr(e).map(ColMin))
        case Max(e) if !ae.isDistinct =>
          (e match {
            case a: AttributeReference =>
              fieldOf(a).map(ColMax).orElse(partFieldIdx(a).map(PartMax))
            case _ => None
          }).orElse(fieldOfExpr(e).map(ColMax))
        case _ => None
      }

    /** Partitions surviving the accumulated partition filters. */
    lazy val matching: Seq[Int] = gfi.matchingPartitions(partFilters)

    def statColsOf(specs: Seq[Spec]): Seq[String] = specs.collect {
      case ColCount(f) => f.name
      case ColMin(f) => f.name
      case ColMax(f) => f.name
    }.distinct

    /** Min/max answer for a data column from a fold: Some(value-or-null)
      * = answerable, None = bail. The dict-sketch fallback for strings is
      * only sound for the GLOBAL fold (sketch unions are table-wide). */
    def boundValue(f: StructField, cs: MetaColAgg, keepMin: Boolean,
        allowDict: Boolean): Option[Any] = {
      if (MetadataAggregates.boundsAttained(f.dataType, meta.source)) {
        if (!cs.boundsKnown) None
        else Some((if (keepMin) cs.min else cs.max)
          .map(MetadataAggregates.toCatalyst(f.dataType, _)).orNull)
      } else if (f.dataType == StringType && allowDict) {
        // exact dict sketch enumerates the value set — min/max of it
        distinctValues(f).map { vs =>
          if (vs.isEmpty) null
          else MetadataAggregates.toCatalyst(f.dataType,
            vs.reduce((a, b) => if ((Canon.compare(a, b) <= 0) == keepMin) a else b))
        }
      } else None
    }

    /** Min/max/count of a partition column over a set of partitions with
      * known row counts: zero-row partitions contribute nothing (their
      * values never reach a scan), null partition values count as SQL
      * nulls. */
    def partColValue(spec: Spec, parts: Seq[Int], rowsOf: Int => Long): Option[Any] = {
      def extremum(fi: Int, keepMin: Boolean): Any = {
        val ord = TypeUtils.getInterpretedOrdering(meta.partitionSchema.fields(fi).dataType)
        val vs = parts.iterator.filter(rowsOf(_) > 0)
          .map(i => gfi.partitionValue(i, fi)).filter(_ != null).toSeq
        if (vs.isEmpty) null
        else vs.reduce((a, b) => if ((ord.compare(a, b) <= 0) == keepMin) a else b)
      }
      spec match {
        case PartCount(fi) =>
          Some(parts.iterator
            .filter(i => rowsOf(i) > 0 && gfi.partitionValue(i, fi) != null)
            .map(rowsOf).sum)
        case PartMin(fi) => Some(extremum(fi, keepMin = true))
        case PartMax(fi) => Some(extremum(fi, keepMin = false))
        case _ => None
      }
    }

    agg match {
      // SELECT DISTINCT col over a data column — grouping on the bare
      // attribute, result is the same attribute (the shape Deduplicate
      // lowers to). Sketch unions are table-wide, so only unfiltered.
      case Aggregate(Seq(g: AttributeReference), Seq(r: AttributeReference), _, _)
          if g.exprId == r.exprId && unfiltered && fieldOf(g).isDefined =>
        val f = fieldOf(g).get
        val stats = gfi.metadataStats(Seq(f.name))
        val cs = stats.cols(f.name)
        if (!cs.nullsKnown) return None
        val values = distinctValues(f).getOrElse(return None)
        val rows = values.map(v => InternalRow(MetadataAggregates.toCatalyst(f.dataType, v))) ++
          (if (cs.nulls > 0) Seq(InternalRow(null)) else Nil)
        Some(LocalRelation(agg.output, rows))

      // the EMPTY global aggregate (no keys, no functions): Spark's own
      // optimizer collapses count-over-aggregate into this shape, and
      // its value is ONE empty row whatever the relation holds — answer
      // it directly instead of paying an empty-schema scan of every file
      case Aggregate(Nil, resultExprs, _, _) if resultExprs.isEmpty =>
        Some(LocalRelation(agg.output, Seq(InternalRow.empty)))

      // global aggregates (optionally partition-filtered): every result
      // expression must be a supported aggregate over a bare attribute
      // (or count of a literal)
      case Aggregate(Nil, resultExprs, _, _) if resultExprs.nonEmpty =>
        val specs = resultExprs.map {
          case Alias(ae: AggregateExpression, _) => parseAgg(ae).getOrElse(return None)
          case _ => return None
        }
        val statCols = statColsOf(specs)
        val needPartVals = specs.exists {
          case _: PartCount | _: PartMin | _: PartMax => true
          case _ => false
        }
        // whole-table fold when unfiltered; merged per-partition folds
        // (zero for absent partitions) when partition-pruned
        lazy val byPart: Map[Int, MetaTableAgg] =
          gfi.metadataStatsByPartition(statCols)
        val stats: MetaTableAgg =
          if (unfiltered && !needPartVals) gfi.metadataStats(statCols)
          else matching.foldLeft(MetadataAggregates.zero(statCols)) { (acc, i) =>
            byPart.get(i).map(acc.merge).getOrElse(acc)
          }
        def rowsOf(i: Int): Long = byPart.get(i).map(_.rows).getOrElse(0L)

        val values: Seq[Any] = specs.map {
          case RowsCount => stats.rows
          case ColCount(f) =>
            val cs = stats.cols(f.name)
            if (!cs.nullsKnown) return None
            stats.rows - cs.nulls
          case ColCountDistinct(f) =>
            distinctValues(f).getOrElse(return None).size.toLong
          case ColMin(f) =>
            boundValue(f, stats.cols(f.name), keepMin = true, allowDict = unfiltered)
              .getOrElse(return None)
          case ColMax(f) =>
            boundValue(f, stats.cols(f.name), keepMin = false, allowDict = unfiltered)
              .getOrElse(return None)
          case p => partColValue(p, matching, rowsOf).getOrElse(return None)
        }
        Some(LocalRelation(agg.output, Seq(InternalRow.fromSeq(values))))

      // GROUP BY partition column(s) (covers SELECT DISTINCT part_col):
      // merge per-partition folds by group key; zero-row groups dropped
      // to match scan semantics
      case Aggregate(groupExprs, resultExprs, _, _) if groupExprs.nonEmpty =>
        val groupIdx: Seq[Int] = groupExprs.map {
          case a: AttributeReference => partFieldIdx(a).getOrElse(return None)
          case _ => return None
        }
        val groupExprIds = groupExprs.map(_.asInstanceOf[AttributeReference].exprId)
        val specs: Seq[Spec] = resultExprs.map {
          case a: AttributeReference if groupExprIds.contains(a.exprId) =>
            GroupKey(groupExprIds.indexOf(a.exprId))
          case Alias(a: AttributeReference, _) if groupExprIds.contains(a.exprId) =>
            GroupKey(groupExprIds.indexOf(a.exprId))
          case Alias(ae: AggregateExpression, _) =>
            parseAgg(ae) match {
              // sketch paths are table-wide — never sound per group
              case Some(_: ColCountDistinct) => return None
              case s => s.getOrElse(return None)
            }
          case _ => return None
        }
        val statCols = statColsOf(specs)
        val byPart = gfi.metadataStatsByPartition(statCols)
        def rowsOf(i: Int): Long = byPart.get(i).map(_.rows).getOrElse(0L)

        val groups: Map[Seq[Any], Seq[Int]] = matching
          .groupBy(i => groupIdx.map(fi => gfi.partitionValue(i, fi)))
          .filter { case (_, parts) => parts.exists(rowsOf(_) > 0) }

        val rows = groups.toSeq.map { case (key, parts) =>
          val merged = parts.foldLeft(MetadataAggregates.zero(statCols)) { (acc, i) =>
            byPart.get(i).map(acc.merge).getOrElse(acc)
          }
          val values: Seq[Any] = specs.map {
            case GroupKey(pos) => key(pos)
            case RowsCount => merged.rows
            case ColCount(f) =>
              val cs = merged.cols(f.name)
              if (!cs.nullsKnown) return None
              merged.rows - cs.nulls
            case ColMin(f) =>
              boundValue(f, merged.cols(f.name), keepMin = true, allowDict = false)
                .getOrElse(return None)
            case ColMax(f) =>
              boundValue(f, merged.cols(f.name), keepMin = false, allowDict = false)
                .getOrElse(return None)
            case p => partColValue(p, parts, rowsOf).getOrElse(return None)
          }
          InternalRow.fromSeq(values)
        }
        Some(LocalRelation(agg.output, rows))

      case _ => None
    }
  }
}

/** Transparent index substitution (off by default —
  * `spark.sql.index.autoSubstitution`): a PLAIN `spark.read.parquet(path)`
  * / `spark.read.orc(path)` / catalog-table relation whose single root
  * path has a committed graft index is re-pointed at the index's
  * [[GraftFileIndex]], so stock reads get file/partition pruning without
  * opting into `spark.index.parquet(path)` — the Hyperspace-style usage
  * mode the reference never had.
  *
  * Guards (any miss leaves the plan untouched): v1 file relation, no
  * bucketing, exactly one root path, a `_SUCCESS`-committed index whose
  * source format matches, data/partition schemas equal to the
  * relation's (case-insensitive, nullability-ignored), and a file COUNT
  * matching the index snapshot — schema or listing drift means the
  * table changed since indexing, where substitution could silently hide
  * new files, so appends leave plain reads untouched (and correct).
  * Off by default regardless: a same-count rewrite (compaction) still
  * slips the guard, the residual staleness window of a listing
  * snapshot.
  */
class AutoIndexSubstitutionRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val conf = IndexConf(spark)
    if (!conf.autoIndexSubstitution) return plan
    plan.transformUp {
      case lr: LogicalRelation => substitute(lr, conf).getOrElse(lr)
    }
  }

  private def substitute(lr: LogicalRelation, conf: IndexConf): Option[LogicalRelation] = {
    val fs = lr.relation match {
      case h: HadoopFsRelation => h
      case _ => return None
    }
    if (fs.location.isInstanceOf[GraftFileIndex]) return None
    if (fs.bucketSpec.isDefined) return None
    val source = fs.fileFormat match {
      case _: ParquetFileFormat => Sources.Parquet
      case _: OrcFileFormat => Sources.Orc
      case _ => return None
    }
    val roots = fs.location.rootPaths
    if (roots.size != 1) return None
    val metastore = new Metastore(spark, conf)
    val dataspace =
      if (lr.catalogTable.isDefined) Metastore.CatalogDataspace else Metastore.Dataspace
    if (!metastore.exists(dataspace, roots.head)) return None
    val (indexDir, meta) =
      try metastore.load(dataspace, roots.head)
      catch { case _: Exception => return None }
    if (meta.source != source) return None
    if (!DataType.equalsIgnoreCaseAndNullability(meta.dataSchema, fs.dataSchema)) return None
    if (!DataType.equalsIgnoreCaseAndNullability(meta.partitionSchema, fs.partitionSchema)) {
      return None
    }
    // listing drift: the index is a SNAPSHOT of the file listing — if the
    // live relation sees a different file count (append / compaction /
    // delete since create), substitution would silently hide new files or
    // resurrect removed ones. Only relations whose listing is ALREADY
    // materialized in memory (path reads and unpartitioned catalog tables
    // = PartitioningAwareFileIndex) are checked and substituted; a
    // partitioned catalog table's CatalogFileIndex would pay a metastore
    // listPartitions + fresh listing on EVERY optimize just to verify the
    // guard, so it stays unsubstituted rather than un-guarded. Same-count
    // rewrites still slip through (the documented staleness contract);
    // appends — the common drift — leave the plan untouched.
    fs.location match {
      case p: org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex =>
        if (p.inputFiles.length.toLong != meta.fileCount) return None
      case _ => return None
    }
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val gfi = new GraftFileIndex(spark, indexDir, meta, conf)
    logInfo(s"graft auto-index substitution: ${roots.head} now served by $indexDir")
    Some(lr.copy(relation = fs.copy(location = gfi)(classic)))
  }
}

/** Registration of the graft optimizer rules and [[IndexedScanStrategy]]
  * on sessions that don't run [[graft.GraftExtensions]] — mirrors the
  * reference's lazy strategy registration on first `spark.index` touch
  * (package.scala:28-31). Each is registered only where the session does
  * not already run it: a session built with the extensions has the rules
  * in its optimizer batches and the strategy among its planner's, and a
  * second registration would run every rule again in the "User Provided
  * Optimizers" batch. */
object GraftRules {
  def ensure(spark: SparkSession): Unit = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val experimental = classic.experimental
    val state = classic.sessionState
    // both paths register the strategy last, so a session whose planner
    // has it runs the rules too: every later touch ends here, unlocked
    if (!state.planner.strategies.contains(IndexedScanStrategy)) experimental.synchronized {
      if (!state.optimizer.batches.exists(_.rules.exists(_.isInstanceOf[MetadataAggregateRule]))) {
        experimental.extraOptimizations = experimental.extraOptimizations :+
          new MetadataAggregateRule(spark) :+ new AutoIndexSubstitutionRule(spark) :+
          new TopKRewriteRule(spark) :+ new JoinPruneRule(spark)
      }
      if (!state.planner.strategies.contains(IndexedScanStrategy)) {
        experimental.extraStrategies = experimental.extraStrategies :+ IndexedScanStrategy
      }
    }
  }
}
