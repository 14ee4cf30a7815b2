package graft.index

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.analysis.EliminateSubqueryAliases
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Descending, NullsLast, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.graft.{SparkInternals, TopKRewriteRule}

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
  * These calls are the explicit form of
  * [[org.apache.spark.sql.graft.TopKRewriteRule]], which rewrites the
  * plain `orderBy(...).limit(k)` shape by itself: both go through
  * [[org.apache.spark.sql.graft.TopKRewriteRule.boundPredicate]], so they
  * share its gates, its memoized bound and its predicate.
  *
  * Semantics: the pruned frame preserves any
  * `orderBy(col.desc_nulls_last).limit(j)` / `asc_nulls_last` result for
  * j <= k — null keys never rank (they sort last and >= k non-null rows
  * exist whenever pruning fires). When the threshold cannot be proven
  * (unindexed column, fewer than k guaranteed non-null values, plain
  * unindexed frame, a join or other multi-relation plan, a filtered
  * frame, a computed column in front of the key), the frame returns
  * UNCHANGED — the optimization degrades to the plain sort, never to a
  * wrong answer.
  */
object TopK {

  /** Prune `df` to rows that can appear in its top-k by `key`.
    *
    * @param df      an indexed scan (`spark.index.parquet(...)`), optionally
    *                narrowed to some of its columns; a filtered frame, or
    *                one whose `key` is computed, returns unchanged, since
    *                the index's bound covers the whole table
    * @param key     the ranking column (an indexed column of `df`)
    * @param k       how many rows the caller will keep (`limit(j)` with
    *                j <= k stays exact)
    * @param largest true = top-k by `key` descending (nulls last);
    *                false = bottom-k ascending (nulls last)
    */
  def topKPruned(df: DataFrame, key: Column, k: Int,
      largest: Boolean = true): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    cut(df, key, Nil, k, largest)
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
    * hash layouts, on filtered or computed frames (as for [[topKPruned]]),
    * or when ANY group cannot prove k non-null values, the frame returns
    * UNCHANGED — degrade, never a wrong answer. */
  def topKPerGroupPruned(df: DataFrame, group: Column, key: Column, k: Int,
      largest: Boolean = true): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    cut(df, key, Seq(group), k, largest)
  }

  /** `df` under the rule's predicate for `key` (and `groups`) resolved
    * against `df`'s own analyzed plan; unchanged when none is proven. */
  private def cut(df: DataFrame, key: Column, groups: Seq[Column], k: Int,
      largest: Boolean): DataFrame =
    df.select(key +: groups: _*).queryExecution.analyzed match {
      case Project(list, child) =>
        val exprs = list.map {
          case a: Alias => a.child
          case e => e
        }
        val order = SortOrder(exprs.head, if (largest) Descending else Ascending,
          NullsLast, Seq.empty)
        TopKRewriteRule.boundPredicate(EliminateSubqueryAliases(child), order,
          k.toLong, exprs.tail)
          .fold(df)(pred => df.filter(SparkInternals.wrap(pred)))
      case _ => df
    }
}
