package graft.index

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graft.JoinPruneRule
import org.apache.spark.sql.graft.SparkInternals.{unwrap, wrap}

/** Semi-join reduction through the index ("dynamic FILE pruning" for
  * ordinary columns): Spark's DPP prunes partition DIRECTORIES when a
  * join key is the partition column, but a join on any other indexed
  * column still scans every fact file. When the build side's distinct
  * join keys fit a driver cap, `fact JOIN dim ON k` is equivalent to
  * `fact WHERE k IN (dim keys) JOIN dim`, and that IN-list is exactly
  * what the index prunes FILES with (per-file bloom / dictionary /
  * min-max) — the fact side reads only files that can contain a matching
  * key, long before the join runs.
  *
  * The rewrite never changes semantics: inner-join rows with keys
  * outside the dim cannot survive, and null keys never match an
  * equi-join. The cap probe is `limit(maxKeys + 1)` — the dim is never
  * collected unboundedly; past the cap the plain join returns unchanged
  * and Catalyst/AQE plan it as usual. At 100 TB this is the selective
  * star-join shape: a thousand-key dim against a million-file fact turns
  * into a thousand-entry IN probe against per-file sketches, reading the
  * handful of files that matter.
  *
  * These calls are the explicit form of
  * [[org.apache.spark.sql.graft.JoinPruneRule]] and run its code: its dim
  * gate ([[org.apache.spark.sql.graft.JoinPruneRule.probeableDim]]) and
  * its probe tiers. A dim the gate rejects — streaming, nondeterministic
  * (`rand()`, a subquery) or with a limit/offset/tail/sample, whose row
  * set can differ between the probe and the join — gets the plain,
  * unpruned join.
  */
object JoinPrune {

  /** Inner equi-join with index-backed file pruning on the fact side.
    *
    * @param fact    indexed scan (`spark.index.parquet(...)`) — plain
    *                DataFrames also work, degrading to a row-level
    *                pushed filter without the file cut
    * @param dim     build side; evaluated TWICE (key probe + the join
    *                itself) — a dim that is not deterministic gets the
    *                plain join (see the object doc)
    * @param factKey fact join column (the indexed one)
    * @param dimKey  dim join column
    * @param maxKeys driver cap on collected distinct keys; above it the
    *                plain join is returned unchanged
    */
  def semiJoinPruned(
      fact: DataFrame,
      dim: DataFrame,
      factKey: Column,
      dimKey: Column,
      maxKeys: Int = 10000): DataFrame = {
    require(maxKeys >= 1, s"maxKeys must be >= 1: $maxKeys")
    val probe =
      if (!JoinPruneRule.probeableDim(dim.queryExecution.analyzed)) None
      else JoinPruneRule.inListProbe(dim.select(dimKey), unwrap(factKey), maxKeys)
    joinUnder(fact, probe, dim, factKey, dimKey)
  }

  /** [[semiJoinPruned]]'s big-dim sibling: runtime join pruning that
    * never collects the dim's keys to the driver, so it has no key-count
    * cap. Two sound cuts before the join runs:
    *
    *   1. FILE-level: the dim's `[min, max]` key range (one aggregate,
    *      collectable at any dim size) becomes a
    *      `factKey BETWEEN mn AND mx` predicate — pushed into the scan,
    *      where a [[org.apache.spark.sql.graft.GraftFileIndex]] prunes
    *      whole files by their min/max stats (plain relations still get
    *      parquet row-group skipping);
    *   2. ROW-level: a bloom filter of the dim's keys, built
    *      distributed and shipped once per executor as a broadcast
    *      variable, gates rows map-side via the codegen'd
    *      [[graft.functions.InBloom]] probe — the fact side shuffles only
    *      rows that MIGHT join (fpp-bounded excess), instead of
    *      everything in range.
    *
    * Both cuts are semantics-free for an inner equi-join: out-of-range
    * keys cannot match, blooms have no false negatives, and null keys
    * never equi-join. This is the explicit, index-composing form of
    * Spark's `InjectRuntimeFilter` (which only fires on shuffle-join
    * shapes it recognizes, with the filter as a plan literal): at 100 TB
    * the win is shuffle-volume ∝ selectivity, and with an indexed fact
    * the range cut happens before files are even opened.
    *
    * The dim is evaluated three times (range, bloom, join); a dim that is
    * not deterministic gets the plain join, as in [[semiJoinPruned]].
    *
    * @param expectedKeys bloom sizing (capacity, not a cap — above it
    *                     the fpp degrades gracefully, never correctness);
    *                     0 (default) sizes from the dim's key count, so a
    *                     100-row dim doesn't pay a megabyte filter and a
    *                     100M-row dim doesn't saturate one
    * @param fpp          target false-positive rate at `expectedKeys`
    */
  def bloomJoinPruned(
      fact: DataFrame,
      dim: DataFrame,
      factKey: Column,
      dimKey: Column,
      expectedKeys: Long = 0L,
      fpp: Double = 0.03): DataFrame = {
    require(expectedKeys >= 0, s"expectedKeys must be >= 0: $expectedKeys")
    require(fpp > 0 && fpp < 1, s"fpp must be in (0, 1): $fpp")
    val keys = dim.select(dimKey)
    val dt = keys.schema.head.dataType
    require(JoinPruneRule.bloomEligible(dt),
      s"bloomJoinPruned supports integral and string keys, got $dt")
    val probe =
      if (!JoinPruneRule.probeableDim(dim.queryExecution.analyzed)) None
      else Some(JoinPruneRule.rangeBloomProbe(keys, unwrap(factKey), expectedKeys, fpp))
    joinUnder(fact, probe, dim, factKey, dimKey)
  }

  /** The inner join of `fact`, cut by `probe` when there is one, and `dim`. */
  private def joinUnder(fact: DataFrame, probe: Option[Expression], dim: DataFrame,
      factKey: Column, dimKey: Column): DataFrame =
    probe.fold(fact)(p => fact.filter(wrap(p))).join(dim, factKey === dimKey)
}
