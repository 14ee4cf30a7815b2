package graft.index

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.graft.{GraftFileIndex, MetadataAggregates, SparkInternals}

/** Index-backed TOP-K file pruning: `ORDER BY col DESC LIMIT k` over an
  * indexed table normally sorts a full scan, but the index's per-block
  * min/max already prove which files CAN hold a top-k row. From the
  * multiset of per-block lower bounds {min_b × nonNullCount_b} the kth
  * best bound T is a sound cutoff — at least k non-null values are >= T,
  * so no row below T can rank — and `col >= T` is exactly the range
  * predicate [[org.apache.spark.sql.graft.GraftFileIndex]] prunes whole
  * files with. At 100 TB this turns "global top-k" from a full read into
  * reading only the files whose range overlaps the top of the domain —
  * proportional to k and the table's clustering (time-ordered and
  * z-ordered layouts prune hardest), not to table size.
  *
  * Semantics: the pruned frame preserves any
  * `orderBy(col.desc_nulls_last).limit(j)` / `asc_nulls_last` result for
  * j <= k — null keys never rank (they sort last and >= k non-null rows
  * exist whenever pruning fires). When the threshold cannot be proven
  * (unindexed column, fewer than k guaranteed non-null values, plain
  * unindexed frame, multi-relation plan), the
  * frame returns UNCHANGED — the optimization degrades to the plain
  * sort, never to a wrong answer.
  */
object TopK {

  /** Prune `df` to rows that can appear in its top-k by `key`.
    *
    * @param df      an indexed scan (`spark.index.parquet(...)`),
    *                optionally projected/filtered — the plan must read
    *                exactly one relation, and it must carry a graft index
    * @param key     the ranking column (an indexed column of `df`)
    * @param k       how many rows the caller will keep (`limit(j)` with
    *                j <= k stays exact)
    * @param largest true = top-k by `key` descending (nulls last);
    *                false = bottom-k ascending (nulls last)
    */
  def topKPruned(df: DataFrame, key: Column, k: Int,
      largest: Boolean = true): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val (gfi, indexedName, keyType) = indexedKey(df, key).getOrElse(return df)
    cut(df, key, keyType, largest,
      gfi.topKBound(indexedName, keyType, k.toLong, largest))
  }

  /** The index `df` reads and the ranking column's index-schema name and
    * type. None unless the plan has exactly one leaf and it is an indexed
    * relation (joins, unions and plain reads are left untouched), and
    * `key` is a row-domain indexed column of a supported type —
    * element-domain (array) fields are excluded, as their stats describe
    * element values, not row-sortable keys. */
  private def indexedKey(df: DataFrame, key: Column)
      : Option[(GraftFileIndex, String, org.apache.spark.sql.types.DataType)] =
    resolveKey(df, key).filter(pk => Canon.isSupported(pk._2)).flatMap {
      case (path, keyType) =>
        val index = df.queryExecution.analyzed.collectLeaves() match {
          case Seq(lr: LogicalRelation) => lr.relation match {
            case fs: HadoopFsRelation => fs.location match {
              case gfi: GraftFileIndex => Some(gfi)
              case _ => None
            }
            case _ => None
          }
          case _ => None
        }
        index.flatMap(gfi => gfi.meta.indexSchema.fields
          .find(f => f.name.equalsIgnoreCase(path) &&
            !graft.index.IndexMetadata.isElementDomain(f))
          .map(f => (gfi, f.name, keyType)))
    }

  /** `df` cut to `key >= bound` (`largest`) or `key <= bound`; unchanged
    * when no bound is proven. */
  private def cut(df: DataFrame, key: Column,
      keyType: org.apache.spark.sql.types.DataType, largest: Boolean,
      canonBound: Option[Any]): DataFrame = canonBound match {
    case None => df
    case Some(canon) =>
      val bound = SparkInternals.wrap(Literal(
        MetadataAggregates.toCatalyst(keyType, canon), keyType))
      if (largest) df.filter(key >= bound) else df.filter(key <= bound)
  }

  /** Resolve the ranking column to its INDEX-SCHEMA name: a top-level
    * attribute, or a nested struct leaf whose dotted path
    * (`payload.user_id`) the index keys on. */
  private def resolveKey(df: DataFrame, key: Column): Option[(String, org.apache.spark.sql.types.DataType)] = {
    val expr = df.select(key).queryExecution.analyzed match {
      case p: org.apache.spark.sql.catalyst.plans.logical.Project =>
        p.projectList.head match {
          case a: org.apache.spark.sql.catalyst.expressions.Alias => a.child
          case e => e
        }
      case _ => return None
    }
    MetadataAggregates.dottedPath(expr).map { case (_, path) => (path, expr.dataType) }
  }

  /** Prune `df` to rows that can appear in the top-k by `key` of ANY
    * `group` — the grouped sibling of [[topKPruned]] for "best k per
    * partition" selections (top documents per source, hottest keys per
    * day). Sound only when the group IS a partition column of the
    * index: each partition's own kth-best block bound is provable there,
    * and the WEAKEST of them is a single range predicate preserving
    * every group's `orderBy(key.desc_nulls_last).limit(j <= k)` (see
    * [[org.apache.spark.sql.graft.GraftFileIndex.topKBoundByPartitions]]).
    * On a layout clustered by key within partitions the cut is real; on
    * hash layouts, or when ANY group cannot prove k non-null values, the
    * frame returns UNCHANGED — degrade, never a wrong answer. */
  def topKPerGroupPruned(df: DataFrame, group: Column, key: Column, k: Int,
      largest: Boolean = true): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val (gfi, indexedName, keyType) = indexedKey(df, key).getOrElse(return df)
    val groupName = df.select(group).schema.fields.head.name
    if (!gfi.meta.partitionSchema.fieldNames
        .exists(_.equalsIgnoreCase(groupName))) return df
    cut(df, key, keyType, largest,
      gfi.topKBoundByPartitions(indexedName, keyType, k.toLong, largest))
  }
}
