"""Python API for the graft Parquet index engine (py4j wrapper).

Mirrors the reference's Python surface (lightcopy.index.QueryContext —
/root/reference python/src/lightcopy/index.py:26-371) over the Scala
fluent API:

    from graft_index import QueryContext
    context = QueryContext(spark)
    context.index.create.mode('overwrite').indexBy('id', 'code').parquet(path)
    context.index.exists.parquet(path)
    df = context.index.parquet(path)       # pruned scans, pyspark DataFrame
    context.index.delete.parquet(path)
    df = context.index.table('tbl')        # catalog tables

Requires the graft jar on the driver classpath
(spark.driver.extraClassPath or --jars).
"""

from pyspark.sql import DataFrame


def _to_jarray(spark, cols):
    gateway = spark.sparkContext._gateway
    arr = gateway.new_array(gateway.jvm.java.lang.String, len(cols))
    for i, c in enumerate(cols):
        arr[i] = c
    return arr


class CreateIndexCommand:
    def __init__(self, spark, jcmd):
        self._spark = spark
        self._jcmd = jcmd

    def mode(self, mode):
        self._jcmd = self._jcmd.mode(mode)
        return self

    def indexBy(self, *cols):
        self._jcmd = self._jcmd.indexBy(_to_jarray(self._spark, list(cols)))
        return self

    def indexByAll(self):
        self._jcmd = self._jcmd.indexByAll()
        return self

    def parquet(self, *paths):
        """One or more roots (or globs): a multi-path call builds ONE
        index over the resolved root set."""
        if len(paths) == 1:
            self._jcmd.parquet(paths[0])
        else:
            self._jcmd.parquet(_to_jarray(self._spark, list(paths)))

    def orc(self, path):
        self._jcmd.orc(path)

    def save(self, path):
        """Build over the manager's format(...) selection."""
        self._jcmd.save(path)

    def table(self, name):
        self._jcmd.table(name)


class ExistsIndexCommand:
    def __init__(self, jcmd, spark=None):
        self._jcmd = jcmd
        self._spark = spark

    def parquet(self, *paths):
        if len(paths) == 1:
            return self._jcmd.parquet(paths[0])
        return self._jcmd.parquet(_to_jarray(self._spark, list(paths)))

    def orc(self, path):
        return self._jcmd.orc(path)

    def table(self, name):
        return self._jcmd.table(name)


class DeleteIndexCommand:
    def __init__(self, jcmd, spark=None):
        self._jcmd = jcmd
        self._spark = spark

    def parquet(self, *paths):
        if len(paths) == 1:
            self._jcmd.parquet(paths[0])
        else:
            self._jcmd.parquet(_to_jarray(self._spark, list(paths)))

    def orc(self, path):
        self._jcmd.orc(path)

    def table(self, name):
        self._jcmd.table(name)


class RefreshIndexCommand:
    """Incremental refresh after table files changed; returns a dict with
    the (re-)indexed and dropped file counts."""

    def __init__(self, jcmd, spark=None):
        self._jcmd = jcmd
        self._spark = spark

    @staticmethod
    def _stats(jstats):
        return {"addedFiles": jstats.addedFiles(), "removedFiles": jstats.removedFiles()}

    def parquet(self, *paths):
        if len(paths) == 1:
            return self._stats(self._jcmd.parquet(paths[0]))
        return self._stats(self._jcmd.parquet(_to_jarray(self._spark, list(paths))))

    def orc(self, path):
        return self._stats(self._jcmd.orc(path))

    def table(self, name):
        return self._stats(self._jcmd.table(name))


class IndexManager:
    def __init__(self, spark):
        self._spark = spark
        self._jmgr = spark._jvm.graft.index.IndexManager(spark._jsparkSession)

    @property
    def create(self):
        return CreateIndexCommand(self._spark, self._jmgr.create())

    @property
    def refresh(self):
        return RefreshIndexCommand(self._jmgr.refresh(), self._spark)

    @property
    def exists(self):
        return ExistsIndexCommand(self._jmgr.exists(), self._spark)

    @property
    def delete(self):
        return DeleteIndexCommand(self._jmgr.delete(), self._spark)

    def format(self, source):
        self._jmgr = self._jmgr.format(source)
        return self

    def option(self, key, value):
        self._jmgr = self._jmgr.option(key, str(value))
        return self

    def parquet(self, *paths):
        """Load one root — or several roots/globs indexed as one set."""
        if len(paths) == 1:
            return DataFrame(self._jmgr.parquet(paths[0]), self._spark)
        return DataFrame(
            self._jmgr.parquet(_to_jarray(self._spark, list(paths))), self._spark)

    def orc(self, path):
        return DataFrame(self._jmgr.orc(path), self._spark)

    def load(self, path):
        return DataFrame(self._jmgr.load(path), self._spark)

    def table(self, name):
        return DataFrame(self._jmgr.table(name), self._spark)


class Ops:
    """Table-maintenance operators (graft.ops.Layout / Profile)."""

    def __init__(self, spark):
        self._spark = spark
        self._jlayout = spark._jvm.graft.ops.Layout

    # 30 min, mirrors graft.ops.MaintenanceLock.DefaultLeaseMs
    _DEFAULT_LEASE_MS = 30 * 60 * 1000

    def compact(self, table_dir, small_file_bytes=32 << 20,
                target_file_bytes=128 << 20, min_files=2,
                lock_lease_ms=_DEFAULT_LEASE_MS, source="parquet"):
        """Rewrite the small-file tail of a (flat or partitioned) parquet
        or orc table; returns dict of compaction stats. Run index.refresh
        after. Fails fast if another maintenance run holds the lock."""
        s = self._jlayout.compact(self._spark._jsparkSession, table_dir,
                                  small_file_bytes, target_file_bytes, min_files,
                                  lock_lease_ms, source)
        return {"compactedFiles": s.compactedFiles(),
                "producedFiles": s.producedFiles(),
                "bytesRewritten": s.bytesRewritten()}

    def vacuum(self, table_dir, lock_lease_ms=_DEFAULT_LEASE_MS):
        """Heal interrupted compactions and drop upsert staging debris;
        returns the number of items healed/removed. Fails fast if another
        maintenance run holds the table's lock."""
        return self._jlayout.vacuum(self._spark._jsparkSession, table_dir,
                                    lock_lease_ms)


class Prune:
    """Index-backed pruning operators that compose with `index.parquet`
    loads (graft.index.TopK / JoinPrune): top-k file pruning, semi-join
    IN-list pruning, and runtime bloom join pruning."""

    def __init__(self, spark):
        self._spark = spark
        self._japi = spark._jvm.graft.PythonApi

    def _df(self, jdf):
        return DataFrame(jdf, self._spark)

    def topk(self, df, key_col, k, largest=True):
        """Prune an indexed frame to rows that can appear in its top-k by
        key_col (largest=False for bottom-k). The frame comes back
        unchanged, and so does the plain answer, when no bound is
        provable: an unindexed column, fewer than k non-null values, or a
        frame that is filtered or computes the key column."""
        return self._df(self._japi.topKPruned(df._jdf, key_col, k, largest))

    def topk_per_group(self, df, group_col, key_col, k, largest=True):
        """Prune an indexed frame to rows that can appear in ANY group's
        top-k by key_col. group_col must be a partition column of the
        index; otherwise, or on a filtered or computed frame as for topk,
        the frame comes back unchanged."""
        return self._df(self._japi.topKPerGroupPruned(
            df._jdf, group_col, key_col, k, largest))

    def semi_join(self, fact, dim, fact_key_col, dim_key_col,
                  max_keys=10000):
        """Inner equi-join where the dim's (<= max_keys) keys become an
        IN-list the index prunes fact files with. A dim that is not
        deterministic (rand(), a subquery, limit, sample) gets the plain,
        unpruned join."""
        return self._df(self._japi.semiJoinPruned(
            fact._jdf, dim._jdf, fact_key_col, dim_key_col, max_keys))

    def bloom_join(self, fact, dim, fact_key_col, dim_key_col,
                   expected_keys=0, fpp=0.03):
        """Inner equi-join with a dim-key bloom probed map-side plus the
        dim [min,max] range pushed into the index's file pruning — the
        any-size-dim sibling of semi_join. A dim that is not
        deterministic gets the plain, unpruned join, as in semi_join."""
        return self._df(self._japi.bloomJoinPruned(
            fact._jdf, dim._jdf, fact_key_col, dim_key_col,
            expected_keys, fpp))


class QueryContext:
    """Entry point, shaped like the reference's QueryContext."""

    def __init__(self, spark):
        self._spark = spark

    @property
    def index(self):
        return IndexManager(self._spark)

    @property
    def ops(self):
        return Ops(self._spark)

    @property
    def prune(self):
        return Prune(self._spark)
