package org.apache.spark.sql.graft

import java.util.concurrent.atomic.LongAdder

import org.apache.hadoop.fs.{BlockLocation, FileStatus, LocatedFileStatus, Path}

import org.apache.spark.internal.Logging
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, PartitionDirectory}
import org.apache.spark.sql.sources.{And => SAnd, Filter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

import graft.index.{BlockStats, FileEntry, FileRow, FilterFold, IndexConf, IndexFilesTable, IndexMetadata, SketchStore}

/** The product: a Spark [[FileIndex]] that serves the file listing from the
  * persisted index metadata and prunes partitions AND files inside
  * `listFiles(partitionFilters, dataFilters)`.
  *
  * Design delta vs the reference (SURVEY.md §7.1 #1): since Spark 3.0 the
  * data filters arrive here directly, so no custom planner Strategy and no
  * mutable setIndexFilters side channel (the reference's
  * MetastoreIndex.scala:80-84 hack) are needed — stock FileSourceStrategy
  * drives the index, and the full predicate is still applied after the scan,
  * keeping pruning purely an optimization. (The one graft strategy over
  * this index, [[IndexedScanStrategy]], only binds that post-scan
  * predicate's literals as parameters.)
  *
  * Scale design: metadata.json is an O(partitions) summary; per-file stats
  * live in the `files` parquet table. Tables below
  * `spark.sql.index.pruning.distributedThreshold` files fold on the driver
  * from a cached read of that table; larger tables run the SAME fold as a
  * Spark job over it (executors probe sketches for their own survivor
  * slices), and only surviving entries ever reach the driver.
  */
class GraftFileIndex(
    spark: SparkSession,
    val indexDir: Path,
    val meta: IndexMetadata,
    val conf: IndexConf)
  extends FileIndex with Logging {

  def this(spark: SparkSession, indexDir: Path, meta: IndexMetadata) =
    this(spark, indexDir, meta, IndexConf(spark))

  private val hadoopConf = spark.sparkContext.hadoopConfiguration
  private val filesDir = new Path(indexDir, graft.index.Metastore.FilesDir)

  /** Partition value rows in files-table partitionIdx order. */
  private lazy val partitionValueRows: Seq[InternalRow] =
    meta.partitionValues.map { vals =>
      InternalRow.fromSeq(vals.zip(meta.partitionSchema.fields).map { case (s, f) =>
        IndexMetadata.castFromString(f.dataType, s)
      })
    }

  /** Snapshot epoch for every memo derived from the files table, bumped
    * by [[refresh]]. Guards the check-then-act race between a memo
    * computation and a concurrent refresh: a load that BEGAN before the
    * refresh may legitimately serve its pre-refresh snapshot to the
    * in-flight caller (the documented stale-serve contract), but must
    * never be INSTALLED after the refresh cleared the memos — an
    * unguarded install would resurrect exactly the stale file list /
    * kth bound that refresh() exists to kill, and a stale kth bound
    * makes the injected top-k range cut unsound. */
  private val snapshotEpoch = new java.util.concurrent.atomic.AtomicLong()

  /** Epoch-guarded get-or-compute: every memo entry is TAGGED with the
    * epoch it was computed under, and a reader serves an entry only if
    * its tag equals the CURRENT epoch. This closes the install/clear
    * race completely: an install that sneaks past refresh()'s clear
    * (computed pre-refresh, landed post-clear) carries a stale tag and
    * is therefore invisible to every subsequent reader — it just sits
    * until the next compute replaces it. The in-flight caller that
    * began before the refresh still gets its own pre-refresh snapshot
    * back (the documented stale-serve contract), but no OTHER caller
    * can ever be served it. */
  private def memoized[K, V](cache: scala.collection.concurrent.Map[K, (Long, V)],
      key: K)(compute: => V): V = {
    val e = snapshotEpoch.get()
    cache.get(key) match {
      case Some((ep, v)) if ep == e => v
      case stale =>
        val v = compute
        if (snapshotEpoch.get() == e) stale match {
          case Some(old) => cache.replace(key, old, (e, v))
          case None => cache.putIfAbsent(key, (e, v))
        }
        v
    }
  }

  private def sketchStore: SketchStore =
    SketchStore.forDir(new Path(indexDir, graft.index.Metastore.SketchDir), meta, hadoopConf)

  /** files-scanned telemetry for the last listFiles call (read by tests
    * and the bench harness). */
  @volatile var lastListedFiles: Long = -1L
  @volatile var lastTotalFiles: Long = meta.fileCount
  /** True iff the last listFiles pruning ran as a Spark job. */
  @volatile var lastPrunedDistributed: Boolean = false

  override def rootPaths: Seq[Path] = meta.rootPathStrings.map(new Path(_))

  override def partitionSchema: StructType = meta.partitionSchema

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {

    // 1. partition pruning — interpreted predicate over partition values
    //    (reference ParquetIndex.prunePartitions, ParquetIndex.scala:112-145)
    val keptPartitions: Seq[(Int, InternalRow)] = {
      val all = partitionValueRows.zipWithIndex.map(_.swap)
      if (partitionFilters.isEmpty || meta.partitionSchema.isEmpty) all
      else {
        val pred = SparkInternals.compilePredicate(partitionFilters, meta.partitionSchema)
        all.filter { case (_, values) => pred(values) }
      }
    }
    val allPartitionsKept = keptPartitions.size == meta.partitionValues.size

    // 2. index pruning — translate data filters, keep those fully covered
    //    by indexed columns (reference IndexSourceStrategy.scala:63-66),
    //    And-reduce, fold per file.
    val indexed = meta.indexedColumns.map(_.toLowerCase)
    // Membership predicates over an element-domain (array) or key-domain
    // (map) index field pre-translate to ordinary source filters the
    // fold answers from member min/max + dict/bloom membership (Spark's
    // own translateFilter has no collection predicates — without this,
    // array/map fields would never prune):
    //   - array_contains(col, v)        → EqualTo(col, v): a file with
    //     no element == v cannot hold a containing row;
    //   - arrays_overlap(col, literal)  → In(col, nonNullElems):
    //     overlap is true only on a shared NON-NULL element (null
    //     elements yield null, which the filter drops), so a file
    //     holding none of the literal's non-null elements cannot match
    //     — an all-null/empty literal gives In(col, []) = never true;
    //   - map_contains_key(m, k) — which ReplaceExpressions lowers to
    //     array_contains(map_keys(m), k) — and m[k] = v both cut by
    //     KEY membership of k.
    // Generic translated filters that happen to reference an
    // element/key-domain field (whole-collection comparisons) stay
    // fold-safe: Canon.fromExternal type-gates every value and degrades
    // mismatches to may-contain.
    import org.apache.spark.sql.catalyst.expressions.{ArrayContains, ArrayExists, ArraysOverlap, EqualTo => CEq, GetArrayStructFields, GetMapValue, GetStructField, LambdaFunction, MapKeys, NamedLambdaVariable, Literal => CLit}
    import org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToScala
    def domainField(
        c: Expression,
        wanted: org.apache.spark.sql.types.StructField => Boolean): Option[String] =
      MetadataAggregates.dottedPath(c).flatMap { case (_, path) =>
        meta.indexSchema.fields.find(f =>
          f.name.equalsIgnoreCase(path) && wanted(f)).map(_.name)
      }
    def fieldNamed(
        path: String,
        wanted: org.apache.spark.sql.types.StructField => Boolean): Option[String] =
      meta.indexSchema.fields.find(f =>
        f.name.equalsIgnoreCase(path) && wanted(f)).map(_.name)
    // `col.f` over `col: array<struct<...>>` extracts the per-element
    // leaf — decompose GetArrayStructFields chains (one array level, any
    // struct depth either side) back to the relation-level dotted path
    // the element-domain index field is named by.
    def arrayStructPath(e: Expression): Option[String] = e match {
      case g: GetArrayStructFields =>
        val inner = g.child match {
          case c: GetArrayStructFields => arrayStructPath(c)
          case other => MetadataAggregates.dottedPath(other).map(_._2)
        }
        inner.map(_ + "." + g.field.name)
      case _ => None
    }
    // The collection whose MEMBERS the probe tests: an array column
    // indexed on its element domain, a struct-leaf extraction over an
    // array of structs, or map_keys(m) over a map column indexed on its
    // key domain (map_contains_key(m, k) optimizes to
    // array_contains(map_keys(m), k), so both spellings land here).
    def memberField(c: Expression): Option[String] = c match {
      case MapKeys(m) => domainField(m, graft.index.IndexMetadata.isMapKey)
      case org.apache.spark.sql.catalyst.expressions.MapValues(m) =>
        MetadataAggregates.dottedPath(m).flatMap { case (_, path) =>
          fieldNamed(graft.index.IndexMetadata.mapValueFieldName(path),
            graft.index.IndexMetadata.isMapValue)
        }
      case g: GetArrayStructFields =>
        arrayStructPath(g).flatMap(
          fieldNamed(_, graft.index.IndexMetadata.isArrayElement))
      case _ => domainField(c, graft.index.IndexMetadata.isArrayElement)
    }
    // Leaf path of `e` INSIDE the lambda element `v` ("" = the element
    // itself), via GetStructField hops only.
    def lambdaLeaf(e: Expression, v: NamedLambdaVariable): Option[String] = e match {
      case x: NamedLambdaVariable if x.exprId == v.exprId => Some("")
      case g: GetStructField =>
        lambdaLeaf(g.child, v).map { p =>
          if (p.isEmpty) g.extractFieldName else p + "." + g.extractFieldName
        }
      case _ => None
    }
    // Translate one conjunct of an exists() lambda into an element-domain
    // source filter: the element witnessing exists=TRUE satisfies every
    // conjunct, so each comparison against a literal is individually a
    // sound membership/range cut over the leaf's element domain. The
    // bare element (`rel == ""`) resolves through memberField, so
    // exists() over map_keys/map_values cuts by the key/value domain
    // too. Untranslatable conjuncts drop out (And keeps what it can).
    def existsConjunct(arr: Expression, v: NamedLambdaVariable,
        pred: Expression): Seq[Filter] = {
      lazy val arrPath: Option[String] =
        MetadataAggregates.dottedPath(arr).map(_._2).orElse(arrayStructPath(arr))
      def field(leafE: Expression): Option[String] =
        lambdaLeaf(leafE, v).flatMap { rel =>
          if (rel.isEmpty) memberField(arr)
          else arrPath.flatMap(p =>
            fieldNamed(p + "." + rel, graft.index.IndexMetadata.isArrayElement))
        }
      import org.apache.spark.sql.catalyst.expressions.{And => CAnd, GreaterThan => CGt, GreaterThanOrEqual => CGe, In => CIn, InSet, LessThan => CLt, LessThanOrEqual => CLe}
      pred match {
        case CAnd(l, r) => existsConjunct(arr, v, l) ++ existsConjunct(arr, v, r)
        case CEq(le, CLit(x, xt)) if x != null =>
          field(le).map(n => org.apache.spark.sql.sources.EqualTo(
            n, convertToScala(x, xt)): Filter).toSeq
        case CEq(CLit(x, xt), le) if x != null =>
          field(le).map(n => org.apache.spark.sql.sources.EqualTo(
            n, convertToScala(x, xt)): Filter).toSeq
        case CIn(le, vs) if vs.nonEmpty && vs.forall {
            case CLit(x, _) => x != null; case _ => false } =>
          field(le).map(n => org.apache.spark.sql.sources.In(n,
            vs.map { case CLit(x, xt) => convertToScala(x, xt) }.toArray): Filter).toSeq
        case InSet(le, hset) if hset != null && !hset.contains(null) =>
          field(le).map(n => org.apache.spark.sql.sources.In(n,
            hset.toArray.map(convertToScala(_, le.dataType))): Filter).toSeq
        case CGt(le, CLit(x, xt)) if x != null =>
          field(le).map(n => org.apache.spark.sql.sources.GreaterThan(
            n, convertToScala(x, xt)): Filter).toSeq
        case CGe(le, CLit(x, xt)) if x != null =>
          field(le).map(n => org.apache.spark.sql.sources.GreaterThanOrEqual(
            n, convertToScala(x, xt)): Filter).toSeq
        case CLt(le, CLit(x, xt)) if x != null =>
          field(le).map(n => org.apache.spark.sql.sources.LessThan(
            n, convertToScala(x, xt)): Filter).toSeq
        case CLe(le, CLit(x, xt)) if x != null =>
          field(le).map(n => org.apache.spark.sql.sources.LessThanOrEqual(
            n, convertToScala(x, xt)): Filter).toSeq
        // string predicates on a string leaf: the witnessing element's
        // leaf value must satisfy them, so the element domain's byte-range
        // (StartsWith) / exact-dict (Contains/EndsWith) verdicts apply
        case org.apache.spark.sql.catalyst.expressions.StartsWith(
            le, CLit(x, _)) if x != null =>
          field(le).map(n => org.apache.spark.sql.sources.StringStartsWith(
            n, x.toString): Filter).toSeq
        case org.apache.spark.sql.catalyst.expressions.Contains(
            le, CLit(x, _)) if x != null =>
          field(le).map(n => org.apache.spark.sql.sources.StringContains(
            n, x.toString): Filter).toSeq
        case org.apache.spark.sql.catalyst.expressions.EndsWith(
            le, CLit(x, _)) if x != null =>
          field(le).map(n => org.apache.spark.sql.sources.StringEndsWith(
            n, x.toString): Filter).toSeq
        // literal-on-the-left range forms flip the operator
        case CGt(CLit(x, xt), le) if x != null =>
          field(le).map(n => org.apache.spark.sql.sources.LessThan(
            n, convertToScala(x, xt)): Filter).toSeq
        case CGe(CLit(x, xt), le) if x != null =>
          field(le).map(n => org.apache.spark.sql.sources.LessThanOrEqual(
            n, convertToScala(x, xt)): Filter).toSeq
        case CLt(CLit(x, xt), le) if x != null =>
          field(le).map(n => org.apache.spark.sql.sources.GreaterThan(
            n, convertToScala(x, xt)): Filter).toSeq
        case CLe(CLit(x, xt), le) if x != null =>
          field(le).map(n => org.apache.spark.sql.sources.GreaterThanOrEqual(
            n, convertToScala(x, xt)): Filter).toSeq
        case _ => Nil
      }
    }
    // Any comparison on m[k] (against a literal) implies the row's map
    // HAS key k — a missing key makes GetMapValue null and every
    // comparison with null evaluates null, which the filter drops — so
    // key-domain membership of k always cuts; when the map's VALUE
    // domain is indexed too, the comparison additionally cuts by the
    // value domain (the witnessing entry (k, v) contributes v to the
    // file's value domain, so v must satisfy the pushed value filter).
    // The verdicts intersect through the And-reduce below.
    def mapCuts(c: Expression, k: Any, kt: org.apache.spark.sql.types.DataType,
        valueCut: Option[String => Filter]): Seq[Filter] = {
      val keyCut = domainField(c, graft.index.IndexMetadata.isMapKey).map(n =>
        org.apache.spark.sql.sources.EqualTo(n, convertToScala(k, kt)): Filter)
      val vCut = valueCut.flatMap { mk =>
        MetadataAggregates.dottedPath(c).flatMap { case (_, path) =>
          fieldNamed(graft.index.IndexMetadata.mapValueFieldName(path),
            graft.index.IndexMetadata.isMapValue).map(mk)
        }
      }
      keyCut.toSeq ++ vCut.toSeq
    }
    // value-side filter builder for one comparison op, literal-nullsafe:
    // a null literal yields no value cut (the key cut alone stays sound —
    // the comparison can never be TRUE, so pruning only by key presence
    // can never drop a passing row)
    def vf(v: Any, vt: org.apache.spark.sql.types.DataType)(
        mk: (String, Any) => Filter): Option[String => Filter] =
      Option(v).map(x => (n: String) => mk(n, convertToScala(x, vt)))
    // A map lookup by literal key: `m[k]` (GetMapValue) or
    // `element_at(m, k)` — the latter ONLY in its null-on-missing form
    // (ANSI element_at ERRORS on a missing key; pruning a file would
    // turn that error into silence)
    object MapLookup {
      def unapply(e: Expression)
          : Option[(Expression, Any, org.apache.spark.sql.types.DataType)] = e match {
        case GetMapValue(c, CLit(k, kt)) if k != null => Some((c, k, kt))
        case ea: org.apache.spark.sql.catalyst.expressions.ElementAt
            if ea.left.dataType.isInstanceOf[org.apache.spark.sql.types.MapType] &&
              !ea.failOnError =>
          ea.right match {
            case CLit(k, kt) if k != null => Some((ea.left, k, kt))
            case _ => None
          }
        case _ => None
      }
    }
    // An array lookup by literal position: `arr[i]` (GetArrayItem) or
    // `element_at(arr, i)`, null-on-out-of-bounds forms only. A
    // comparison on the looked-up element being TRUE means SOME element
    // satisfies it — an element-domain membership/range cut.
    object ArrayLookup {
      def unapply(e: Expression): Option[Expression] = e match {
        case g: org.apache.spark.sql.catalyst.expressions.GetArrayItem
            if !g.failOnError && g.right.isInstanceOf[CLit] => Some(g.left)
        // element_at(arr, 0) throws INVALID_ARRAY_INDEX unconditionally
        // (even with failOnError=false, 1-based ordinals exclude 0) —
        // pruning files on it would turn that mandatory runtime error
        // into silent empty results, so only a non-null ordinal != 0
        // qualifies. GetArrayItem's 0-based ordinal has no such hole.
        case ea: org.apache.spark.sql.catalyst.expressions.ElementAt
            if ea.left.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] &&
              !ea.failOnError =>
          ea.right match {
            case CLit(ord, _) if ord != null && ord != 0 => Some(ea.left)
            case _ => None
          }
        case _ => None
      }
    }
    // element-domain cut for a comparison on an array lookup
    def arrayCut(c: Expression, v: Any, vt: org.apache.spark.sql.types.DataType,
        mk: (String, Any) => Filter): Seq[Filter] =
      if (v == null) Nil
      else memberField(c).map(n => mk(n, convertToScala(v, vt))).toSeq
    val arrayElemFilters: Seq[Filter] = dataFilters.flatMap {
      case ArrayContains(c, CLit(v, vt)) if v != null =>
        memberField(c).map(n => org.apache.spark.sql.sources.EqualTo(n,
          convertToScala(v, vt)))
      case ArraysOverlap(l, r) =>
        val probed = (l, r) match {
          case (c, CLit(v, t: org.apache.spark.sql.types.ArrayType)) if v != null =>
            Some((c, v, t))
          case (CLit(v, t: org.apache.spark.sql.types.ArrayType), c) if v != null =>
            Some((c, v, t))
          case _ => None
        }
        probed.flatMap { case (c, v, t) =>
          memberField(c).map { n =>
            val elems = convertToScala(v, t).asInstanceOf[scala.collection.Seq[Any]]
              .filter(_ != null).toArray
            org.apache.spark.sql.sources.In(n, elems)
          }
        }
      // exists(col, x -> pred): a TRUE row has a witnessing element, so
      // every lambda conjunct comparing a struct leaf (or the element
      // itself) to a literal cuts by that leaf's element domain
      case ArrayExists(arr, LambdaFunction(pred, Seq(v: NamedLambdaVariable), _), _) =>
        existsConjunct(arr, v, pred)
      // m[k] ⊙ literal (either side, ⊙ ∈ {=, >, >=, <, <=}): key-domain
      // membership of k always cuts (see mapCuts), and the value domain
      // folds the comparison itself (equality via min/max + sketches,
      // ranges via min/max)
      case CEq(MapLookup(c, k, kt), CLit(v, vt)) if k != null =>
        mapCuts(c, k, kt, vf(v, vt)(org.apache.spark.sql.sources.EqualTo))
      case CEq(CLit(v, vt), MapLookup(c, k, kt)) if k != null =>
        mapCuts(c, k, kt, vf(v, vt)(org.apache.spark.sql.sources.EqualTo))
      // null-safe equality: m[k] <=> null is TRUE for rows WITHOUT key k,
      // so only the non-null-literal form may cut at all
      case org.apache.spark.sql.catalyst.expressions.EqualNullSafe(
          MapLookup(c, k, kt), CLit(v, vt)) if k != null && v != null =>
        mapCuts(c, k, kt, vf(v, vt)(org.apache.spark.sql.sources.EqualTo))
      case org.apache.spark.sql.catalyst.expressions.EqualNullSafe(
          CLit(v, vt), MapLookup(c, k, kt)) if k != null && v != null =>
        mapCuts(c, k, kt, vf(v, vt)(org.apache.spark.sql.sources.EqualTo))
      case org.apache.spark.sql.catalyst.expressions.GreaterThan(
          MapLookup(c, k, kt), CLit(v, vt)) if k != null =>
        mapCuts(c, k, kt, vf(v, vt)(org.apache.spark.sql.sources.GreaterThan))
      case org.apache.spark.sql.catalyst.expressions.GreaterThan(
          CLit(v, vt), MapLookup(c, k, kt)) if k != null =>
        mapCuts(c, k, kt, vf(v, vt)(org.apache.spark.sql.sources.LessThan))
      case org.apache.spark.sql.catalyst.expressions.GreaterThanOrEqual(
          MapLookup(c, k, kt), CLit(v, vt)) if k != null =>
        mapCuts(c, k, kt, vf(v, vt)(org.apache.spark.sql.sources.GreaterThanOrEqual))
      case org.apache.spark.sql.catalyst.expressions.GreaterThanOrEqual(
          CLit(v, vt), MapLookup(c, k, kt)) if k != null =>
        mapCuts(c, k, kt, vf(v, vt)(org.apache.spark.sql.sources.LessThanOrEqual))
      case org.apache.spark.sql.catalyst.expressions.LessThan(
          MapLookup(c, k, kt), CLit(v, vt)) if k != null =>
        mapCuts(c, k, kt, vf(v, vt)(org.apache.spark.sql.sources.LessThan))
      case org.apache.spark.sql.catalyst.expressions.LessThan(
          CLit(v, vt), MapLookup(c, k, kt)) if k != null =>
        mapCuts(c, k, kt, vf(v, vt)(org.apache.spark.sql.sources.GreaterThan))
      case org.apache.spark.sql.catalyst.expressions.LessThanOrEqual(
          MapLookup(c, k, kt), CLit(v, vt)) if k != null =>
        mapCuts(c, k, kt, vf(v, vt)(org.apache.spark.sql.sources.LessThanOrEqual))
      case org.apache.spark.sql.catalyst.expressions.LessThanOrEqual(
          CLit(v, vt), MapLookup(c, k, kt)) if k != null =>
        mapCuts(c, k, kt, vf(v, vt)(org.apache.spark.sql.sources.GreaterThanOrEqual))
      // m[k] IN (v1, ...): key presence + value-domain membership of any
      // non-null probe value (null probes never match — an all-null list
      // leaves the never-true In(field, []) cut, sound like the empty-IN
      // join probe)
      case org.apache.spark.sql.catalyst.expressions.In(
          MapLookup(c, k, kt), vs) if k != null && vs.nonEmpty &&
          vs.forall(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Literal]) =>
        val values = vs.collect {
          case CLit(x, xt) if x != null => convertToScala(x, xt)
        }
        mapCuts(c, k, kt, Some(n => org.apache.spark.sql.sources.In(n, values.toArray)))
      case org.apache.spark.sql.catalyst.expressions.InSet(
          MapLookup(c, k, kt), hset)
          if k != null && hset != null =>
        val vt = c.dataType.asInstanceOf[org.apache.spark.sql.types.MapType].valueType
        val values = hset.toArray.filter(_ != null).map(convertToScala(_, vt))
        mapCuts(c, k, kt, Some(n => org.apache.spark.sql.sources.In(n, values)))
      // m[k] IS NOT NULL: a missing key yields null, so only rows whose
      // map has key k (with a non-null value) can pass — key membership
      // of k is again a sound file cut (value unknown: no value cut)
      case org.apache.spark.sql.catalyst.expressions.IsNotNull(
          MapLookup(c, k, kt)) if k != null =>
        mapCuts(c, k, kt, None)
      // arr[i] ⊙ lit / element_at(arr, i) ⊙ lit (null-on-out-of-bounds
      // forms): TRUE requires the looked-up ELEMENT to satisfy ⊙, so the
      // element domain folds the comparison directly
      case CEq(ArrayLookup(c), CLit(v, vt)) =>
        arrayCut(c, v, vt, org.apache.spark.sql.sources.EqualTo)
      case CEq(CLit(v, vt), ArrayLookup(c)) =>
        arrayCut(c, v, vt, org.apache.spark.sql.sources.EqualTo)
      case org.apache.spark.sql.catalyst.expressions.GreaterThan(
          ArrayLookup(c), CLit(v, vt)) =>
        arrayCut(c, v, vt, org.apache.spark.sql.sources.GreaterThan)
      case org.apache.spark.sql.catalyst.expressions.GreaterThan(
          CLit(v, vt), ArrayLookup(c)) =>
        arrayCut(c, v, vt, org.apache.spark.sql.sources.LessThan)
      case org.apache.spark.sql.catalyst.expressions.GreaterThanOrEqual(
          ArrayLookup(c), CLit(v, vt)) =>
        arrayCut(c, v, vt, org.apache.spark.sql.sources.GreaterThanOrEqual)
      case org.apache.spark.sql.catalyst.expressions.GreaterThanOrEqual(
          CLit(v, vt), ArrayLookup(c)) =>
        arrayCut(c, v, vt, org.apache.spark.sql.sources.LessThanOrEqual)
      case org.apache.spark.sql.catalyst.expressions.LessThan(
          ArrayLookup(c), CLit(v, vt)) =>
        arrayCut(c, v, vt, org.apache.spark.sql.sources.LessThan)
      case org.apache.spark.sql.catalyst.expressions.LessThan(
          CLit(v, vt), ArrayLookup(c)) =>
        arrayCut(c, v, vt, org.apache.spark.sql.sources.GreaterThan)
      case org.apache.spark.sql.catalyst.expressions.LessThanOrEqual(
          ArrayLookup(c), CLit(v, vt)) =>
        arrayCut(c, v, vt, org.apache.spark.sql.sources.LessThanOrEqual)
      case org.apache.spark.sql.catalyst.expressions.LessThanOrEqual(
          CLit(v, vt), ArrayLookup(c)) =>
        arrayCut(c, v, vt, org.apache.spark.sql.sources.GreaterThanOrEqual)
      case _ => Nil
    }
    val indexFilters: Seq[Filter] = (dataFilters
      .flatMap(SparkInternals.translateFilter) ++ arrayElemFilters)
      .filter(_.references.forall(r => indexed.contains(r.toLowerCase)))

    lastPrunedDistributed = false
    val partitions = if (allPartitionsKept) None else Some(keptPartitions.map(_._1))
    val statusByPartition: Map[Int, Seq[FileStatusWithMetadata]] = indexFilters match {
      case Nil => survivorsUnfiltered(partitions)
      case fs =>
        prune(fs.reduce(SAnd), partitions).groupBy(_._1).map { case (idx, es) =>
          idx -> GraftFileIndex.wrapEager(es.map(e => toFileStatus(e._2)).toArray)
        }
    }

    val counted = new LongAdder
    val emptyStatuses: Seq[FileStatusWithMetadata] = Nil
    val result = keptPartitions.map { case (idx, values) =>
      val kept = statusByPartition.getOrElse(idx, emptyStatuses)
      counted.add(kept.length.toLong)
      SparkInternals.partitionDirectory(values, kept)
    }
    lastListedFiles = counted.sum()
    lastTotalFiles = meta.fileCount
    if (indexFilters.nonEmpty) {
      logInfo(s"graft index pruning: kept $lastListedFiles/$lastTotalFiles files " +
        s"(distributed=$lastPrunedDistributed) for filters ${indexFilters.mkString(", ")}")
    }
    result.filter(_.files.nonEmpty) match {
      // keep at least the empty listing shape Spark expects
      case Nil if meta.partitionSchema.isEmpty =>
        Seq(SparkInternals.partitionDirectory(InternalRow.empty, Array.empty[FileStatus]))
      case dirs => dirs
    }
  }

  /** The runner of every metadata computation, and the one place the
    * distributed threshold is read. Tables below it run `onDriver` over
    * the cached rows of `partitions` (None = all), grouped by
    * partitionIdx; pruning's per-file passes run there as parallel
    * streams, where the reference used per-file Futures
    * (ParquetIndex.scala:166-178). Larger tables run `onTable` as a Spark
    * job over the files table, restricted to `partitions` by a
    * partitionIdx pushdown: executors fold their own slices, and only
    * the results reach the driver. */
  private def runner[A](partitions: Option[Seq[Int]])(
      onDriver: Map[Int, Seq[FileRow]] => A)(
      onTable: org.apache.spark.sql.classic.DataFrame => A): A =
    if (meta.fileCount < conf.distributedPruningThreshold) {
      // parsed once per committed index, shared by every instance over it
      val all = IndexFilesTable.rowsByPartition(filesDir, meta, hadoopConf)
      onDriver(partitions.fold(all)(ps => ps.flatMap(i => all.get(i).map(i -> _)).toMap))
    } else {
      val table = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .read.schema(IndexFilesTable.Schema).parquet(filesDir.toString)
      onTable(partitions.fold(table)(ps =>
        table.where(org.apache.spark.sql.functions.col("partitionIdx").isin(ps: _*))))
    }

  /** No index filters: the listing is every file of the kept partitions.
    * This is the one intrinsically O(files) driver cost left; every
    * unselective InMemoryFileIndex scan pays the same.
    *
    * MEASURED finding (999,680 files, four materialization variants):
    * the LIVE footprint of eager statuses is invariant at ~630 B/file
    * (~600 MB) — Spark's own FileStatus+Path+URI+PartitionDirectory
    * shape owns those bytes, so only the v1 contract itself (a
    * streamed/v2 listing) could shrink them. What intermediates DID
    * control is the transient allocation under the build (1.29 GB →
    * 1.01 GB at equal wall-clock); toLocalIterator streaming would cut
    * that to ~0.86 GB but costs +60% wall-clock (serialized
    * per-partition fetches). Driver sizing guidance lives in the README
    * conf section. */
  private def survivorsUnfiltered(
      partitions: Option[Seq[Int]]): Map[Int, Seq[FileStatusWithMetadata]] =
    runner(partitions)(_.map { case (i, rows) =>
      i -> GraftFileIndex.wrapEager(rows.map(r => toFileStatus(r.entry)).toArray)
    }) { table =>
      // big table, no cacheable driver copy — stream only the slim
      // listing columns of the kept partitions (no stats/schema blobs).
      //
      // The EXECUTORS pack each scan partition of the files table into
      // ONE columnar [[PackedListing]] (primitive arrays + a single
      // UTF-8 basename blob, paths split into interned parent + name,
      // block locations parsed THERE into flattened primitive arrays
      // with interned host sets — the driver never holds per-file JSON
      // strings or BlockLocation objects). The packing itself is
      // garbage-light: no boxing (ArrayBuilder.ofLong/ofInt), no json4s
      // on the hot path (a byte-level parser for the writer's own
      // compact location shape; json4s only as a fallback for foreign
      // JSON), no per-file Strings (parent/host interning compares raw
      // bytes against the previous row's — directory runs make that hit
      // nearly always).
      //
      // The driver HOLDS only the packed arrays: each partition's
      // `files` is a lazy [[LazyFileSeq]] over contiguous ranges of the
      // packed data that materializes a [[SlimFileStatus]] /
      // [[SlimLocatedFileStatus]] (and its Path / BlockLocations) per
      // access — scan planning touches each file once — so the v1
      // listing's HELD footprint drops from ~630 B/file (eager
      // FileStatus+Path+URI+BlockLocation) to the ~110 B/file of the
      // packed columns, and the listing allocates no per-file objects
      // at all.
      val proj = table.select("partitionIdx", "path", "size",
        "modificationTime", "blockSize", "locationsJson")
      val packed = proj.queryExecution.toRdd.mapPartitions { it =>
        val b = new PackedListingBuilder
        while (it.hasNext) b.add(it.next())
        if (b.isEmpty) Iterator.empty else Iterator.single(b.result())
      }.collect()
      val ranges = new java.util.HashMap[Int,
        scala.collection.mutable.ArrayBuffer[(PackedListing, Int, Int)]]()
      packed.foreach { p =>
        var r = 0
        while (r < p.runIdx.length) {
          val from = p.runStart(r)
          val to = if (r + 1 < p.runStart.length) p.runStart(r + 1) else p.numFiles
          var buf = ranges.get(p.runIdx(r))
          if (buf == null) {
            buf = new scala.collection.mutable.ArrayBuffer[(PackedListing, Int, Int)]()
            ranges.put(p.runIdx(r), buf)
          }
          buf += ((p, from, to))
          r += 1
        }
      }
      val out = Map.newBuilder[Int, Seq[FileStatusWithMetadata]]
      ranges.forEach { (k, v) =>
        out += (k.intValue -> new LazyFileSeq(v.toArray))
      }
      out.result()
    }

  /** Can this index's sketches sharpen any verdict in the filter tree?
    * Equality/IN: any sketch kind. Substring (Contains/EndsWith): ONLY
    * the exact dictionary — loading bloom/bitmap bytes for a
    * substring-only tree would be pure IO with zero pruning power. */
  private def sketchCanRefine(combined: Filter): Boolean =
    FilterFold.usesMembership(combined) ||
      (meta.sketchKind.contains(graft.index.Sketch.Dict) &&
        FilterFold.usesSubstring(combined))

  /** Files of `partitions` that may hold a row matching `combined`, as
    * (partitionIdx, listing entry), through [[GraftFileIndex.pruneSlice]]:
    * the whole kept table is one slice on the driver, and each task's
    * files-table partition is one slice on executors, which probe the
    * sketches of their own survivors. Only survivors reach the driver,
    * so driver residency is O(survivors) regardless of table size. */
  private def prune(
      combined: Filter,
      partitions: Option[Seq[Int]]): Seq[(Int, FileEntry)] = {
    val schema = meta.indexSchema
    val useSketches = meta.sketchKind.isDefined && sketchCanRefine(combined)
    runner(partitions) { byPartition =>
      val sketches = if (useSketches) Some(() => sketchStore) else None
      GraftFileIndex.pruneSlice(byPartition.valuesIterator.flatten.toVector,
        combined, schema, sketches, GraftFileIndex.parallelFilter)
        .map(r => (r.partitionIdx, r.entry))
    } { table =>
      lastPrunedDistributed = true
      val sketchDir = new Path(indexDir, graft.index.Metastore.SketchDir).toString
      val confBc = spark.sparkContext.broadcast(new SerializableConfiguration(hadoopConf))
      GraftFileIndex.fileRows(table, listing = true).mapPartitions { it =>
        val sketches =
          if (useSketches) Some(() => new SketchStore(new Path(sketchDir), confBc.value.value))
          else None
        GraftFileIndex.pruneSlice(it.toVector, combined, schema, sketches, _ filter _)
          .iterator.map(r => (r.partitionIdx, r.entry))
      }.collect().toSeq
    }
  }

  // ---- metadata-only aggregates (MetadataAggregateRule) ----------------
  // Memoized per FileIndex instance (= per query) so optimizer fixed-point
  // iterations never recompute; same two-tier driver/Spark-job design as
  // listFiles pruning.

  private val metaAggByPartCache =
    new scala.collection.concurrent.TrieMap[Seq[String], (Long, Map[Int, MetaTableAgg])]()
  private val metaDistinctCache =
    new scala.collection.concurrent.TrieMap[String, (Long, Option[Seq[Any]])]()

  /** Partition indices whose value rows satisfy every filter — the same
    * interpreted-predicate pruning listFiles step 1 applies, exposed so
    * [[MetadataAggregateRule]] consumes a partition-only Filter exactly. */
  def matchingPartitions(filters: Seq[Expression]): Seq[Int] = {
    if (filters.isEmpty || meta.partitionSchema.isEmpty) partitionValueRows.indices
    else {
      val pred = SparkInternals.compilePredicate(filters, meta.partitionSchema)
      partitionValueRows.zipWithIndex.collect { case (row, i) if pred(row) => i }
    }
  }

  /** Catalyst value of partition column `fieldIdx` for partition `idx`. */
  def partitionValue(idx: Int, fieldIdx: Int): Any = {
    val f = meta.partitionSchema.fields(fieldIdx)
    partitionValueRows(idx).get(fieldIdx, f.dataType)
  }

  def partitionCount: Int = meta.partitionValues.size

  /** [[metadataStats]] keyed by partitionIdx: the per-partition folds the
    * filtered/grouped metadata-aggregate paths merge driver-side. Driver
    * residency is O(partitions × cols) small structs — the same order as
    * `meta.partitionValues` itself, which already lives on the driver.
    * Partitions with no files are absent (callers treat missing as the
    * zero fold). On the files table each task folds its slice into a
    * partial map, and the driver merges the partials as they arrive — no
    * shuffle, partials are metadata-sized. */
  def metadataStatsByPartition(colsIn: Seq[String]): Map[Int, MetaTableAgg] = {
    val cols = colsIn.sorted
    memoized(metaAggByPartCache, cols) {
      runner(None)(_.valuesIterator.flatten.foldLeft(Map.empty[Int, MetaTableAgg])(
        GraftFileIndex.addStats(cols))) { table =>
        GraftFileIndex.fileRows(table, listing = false).mapPartitions { it =>
          Iterator.single(it.foldLeft(Map.empty[Int, MetaTableAgg])(GraftFileIndex.addStats(cols)))
        }.fold(Map.empty[Int, MetaTableAgg])(GraftFileIndex.mergeStats)
      }
    }
  }

  /** Fold row counts / null counts / bounds for `cols` (index-schema
    * names) over every file of the index: the merge of
    * [[metadataStatsByPartition]]'s values. */
  def metadataStats(colsIn: Seq[String]): MetaTableAgg =
    metadataStatsByPartition(colsIn).valuesIterator
      .foldLeft(MetadataAggregates.zero(colsIn.sorted))(_ merge _)

  /** Exact distinct (non-null, canonical) values of an indexed column, if
    * the index carries an EXACT membership sketch for it (dict/bitmap —
    * bloom cannot enumerate) and the set stays within `cap`. The union is
    * computed by a Spark job over the sketch table (executors
    * deserialize their slice; only value sets cross to the driver). */
  def metadataDistinct(colName: String, dt: org.apache.spark.sql.types.DataType,
      cap: Int): Option[Seq[Any]] = {
    memoized(metaDistinctCache, colName) {
      val sketchPath = new Path(indexDir, graft.index.Metastore.SketchDir)
      val exact = meta.sketchKind.exists(k =>
        graft.index.Sketch.resolveKind(k, dt) != graft.index.Sketch.Bloom)
      if (!exact) None
      else if (!sketchPath.getFileSystem(hadoopConf).exists(sketchPath)) {
        // sketch table absent (e.g. zero-file table): no values at all
        if (meta.fileCount == 0) Some(Nil) else None
      } else {
        val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        import classic.implicits._
        val partials = classic.read.schema(SketchStore.Schema).parquet(sketchPath.toString)
          .where($"column" === colName)
          .select($"kind", $"data").as[(String, Array[Byte])]
          .rdd.mapPartitions { it =>
            val set = new java.util.HashSet[Any]()
            var exactUnion = true
            it.foreach { case (kind, bytes) =>
              if (exactUnion && set.size <= cap) {
                graft.index.Sketch.deserialize(kind, bytes) match {
                  case d: graft.index.DictSketch => set.addAll(d.set)
                  case b: graft.index.BitmapSketch =>
                    b.bm.forEach(new org.roaringbitmap.IntConsumer {
                      override def accept(i: Int): Unit = { set.add(i.toLong); () }
                    })
                  case _ => exactUnion = false // bloom row: cannot enumerate
                }
              }
            }
            Iterator.single(if (exactUnion && set.size <= cap) Some(set) else None)
          }.collect()
        if (partials.exists(_.isEmpty)) None
        else {
          val union = new java.util.HashSet[Any]()
          partials.foreach(p => union.addAll(p.get))
          if (union.size > cap) None
          else {
            import scala.jdk.CollectionConverters._
            Some(union.asScala.toSeq)
          }
        }
      }
    }
  }

  /** Canonical threshold for index-backed TOP-K pruning
    * ([[TopKRewriteRule.boundPredicate]]). With `largest = true`, finds T =
    * the kth best LOWER bound over the per-block multiset
    * {min_b × nonNull_b}: at least k non-null values of `colName` are
    * >= T, so `colName >= T` provably preserves any
    * `ORDER BY colName DESC (nulls last) LIMIT k` result — and that
    * range predicate is exactly what [[listFiles]] prunes whole files
    * with. Mirrored via block maxes for `largest = false`. Blocks with
    * unknown null counts or missing bounds contribute no guarantee
    * (weaker T, never unsound); truncated string bounds stay sound here
    * because T is used as a bound, not an answer (a truncated lower bound
    * still lower-bounds every value of its block). None = fewer than k
    * guaranteed non-null values — callers skip pruning.
    *
    * Scale: on the files table, a metadata-sized distributed sort of the
    * (bound, count) pairs plus the classic two-pass kth-element walk
    * (per-partition totals collected — one Long per task — then ONE
    * sorted partition walked), so the driver never holds per-file
    * state. Memoized per snapshot (see [[refresh]]): fixed-point
    * iterations, the explicit API and repeated queries pay the fold once. */
  def topKBound(colName: String, dt: org.apache.spark.sql.types.DataType,
      k: Long, largest: Boolean): Option[Any] = {
    require(k >= 1, s"k must be >= 1: $k")
    import GraftFileIndex.{blockPairs, bestFirst, kthBound, kthWalk}
    memoized(topKBoundCache, (colName, k, largest)) {
      runner(None)(byPartition => kthBound(byPartition.valuesIterator.flatten
        .flatMap(r => blockPairs(r.blocks, colName, largest)).toArray, k, largest)) { table =>
        val sorted = GraftFileIndex.fileRows(table, listing = false)
          .flatMap(r => blockPairs(r.blocks, colName, largest))
          .sortBy(_._1)(bestFirst(largest), scala.reflect.ClassTag.Any)
        val before = sorted.mapPartitions(it => Iterator.single(it.map(_._2).sum))
          .collect().scanLeft(0L)(_ + _)
        // the partition where the running count first reaches k, and what
        // is left of k when its walk starts
        val target = before.indexWhere(_ >= k) - 1
        if (target < 0) None
        else {
          val rem = k - before(target)
          spark.sparkContext.runJob(sorted,
            (it: Iterator[(Any, Long)]) => kthWalk(it, rem), Seq(target)).head
        }
      }
    }
  }

  private val topKBoundCache =
    new scala.collection.concurrent.TrieMap[(String, Long, Boolean), (Long, Option[Any])]()
  private val topKGroupBoundCache =
    new scala.collection.concurrent.TrieMap[(String, Long, Boolean), (Long, Option[Any])]()

  /** The GROUPED sibling of [[topKBound]]: the WEAKEST per-partition
    * TOP-K bound — T = the least favorable (min for `largest = true`)
    * over partitions of that partition's own kth-best per-block lower
    * bound. `col >= T` then provably preserves EVERY partition group's
    * `ORDER BY col DESC (nulls last) LIMIT k` result at once, as one
    * plain range predicate [[listFiles]] prunes files with. None unless
    * EVERY partition that has files proves a bound (a group with fewer
    * than k guaranteed non-null values admits rows below any cutoff, so
    * no global cut is sound). Memoized like [[topKBound]].
    *
    * Scale: on the files table, one job groups each partition's (bound,
    * count) pairs by partitionIdx (a partition's BLOCK STATS must fit a
    * task — metadata-sized, orders of magnitude under the data itself)
    * and only #partitions bounds reach the driver. Every file emits its
    * pair array, empty or not, so a partition whose files yield no usable
    * pairs still reaches the walk (and folds to None there) instead of
    * silently dropping out, which would make the cut unsound. */
  def topKBoundByPartitions(colName: String,
      dt: org.apache.spark.sql.types.DataType,
      k: Long, largest: Boolean): Option[Any] = {
    require(k >= 1, s"k must be >= 1: $k")
    import GraftFileIndex.{blockPairs, kthBound, weakest}
    memoized(topKGroupBoundCache, (colName, k, largest)) {
      val perPartition = runner(None)(_.valuesIterator.map(rows => kthBound(
        rows.iterator.flatMap(r => blockPairs(r.blocks, colName, largest)).toArray,
        k, largest)).toSeq) { table =>
        GraftFileIndex.fileRows(table, listing = false)
          .map(r => (r.partitionIdx, blockPairs(r.blocks, colName, largest).toArray))
          .groupByKey()
          .map { case (_, pairs) => kthBound(pairs.iterator.flatten.toArray, k, largest) }
          .collect().toSeq
      }
      weakest(perPartition, largest)
    }
  }

  private def toFileStatus(f: FileEntry): FileStatus = {
    val base = new FileStatus(
      f.size, false, 1, f.blockSize, f.modificationTime, new Path(f.path))
    if (f.locations.isEmpty) base
    else new LocatedFileStatus(base, f.locations.map(l =>
      new BlockLocation(l.hosts.toArray, l.hosts.toArray, l.offset, l.length)).toArray)
  }

  override def inputFiles: Array[String] =
    IndexFilesTable.readPaths(filesDir, meta, hadoopConf).toArray

  /** Drop EVERY snapshot-derived memo along with the shared files-table
    * cache: an instance held across an index refresh must re-prove
    * aggregates, distinct sets, and top-k bounds against the new
    * snapshot — a stale kth bound in particular would turn the injected
    * top-k range cut unsound (files the refresh removed could have
    * proven a tighter T than the new data supports). */
  override def refresh(): Unit = {
    // ordering matters against a RACING memo computation (see
    // snapshotEpoch): invalidate the files-table cache FIRST (a compute
    // that starts after this point reads fresh data), THEN bump the
    // epoch (a compute that started before it can no longer install),
    // THEN drop the memos. A compute that lands in the middle at worst
    // skips installing a fresh value — never installs a stale one.
    IndexFilesTable.invalidate(filesDir)
    snapshotEpoch.incrementAndGet()
    metaAggByPartCache.clear()
    metaDistinctCache.clear()
    topKBoundCache.clear()
    topKGroupBoundCache.clear()
  }

  /** Whole-table size — the sound pre-filter estimate the v1 FileIndex
    * contract expects (filters arrive only at listFiles time, AFTER join
    * strategies are chosen, so the pruned size cannot inform the initial
    * plan). A heavily-pruned indexed scan still becomes a broadcast side
    * at runtime via AQE's re-plan (shuffle stage materializes the pruned
    * output, `spark.sql.adaptive.autoBroadcastJoinThreshold` converts
    * the join) — the idiomatic Spark path, not a stats hack here. */
  override def sizeInBytes: Long = meta.totalBytes
}

object GraftFileIndex {
  /** Eager statuses (small-table cache / pruned survivors) → the
    * listing's wrapper type, same shape PartitionDirectory.apply builds. */
  private[graft] def wrapEager(files: Array[FileStatus]): Seq[FileStatusWithMetadata] =
    scala.collection.immutable.ArraySeq.unsafeWrapArray(
      files.map(FileStatusWithMetadata(_)))

  /** The files table as [[FileRow]]s, parsed where the rows are read.
    * Only `partitionIdx` and `blocksJson` are read unless `listing`,
    * which adds the columns of the listing entry; that entry parses its
    * block locations on first use, so only the files a computation keeps
    * pay for them. The per-file schema JSON stays unread. */
  private[graft] def fileRows(table: org.apache.spark.sql.classic.DataFrame,
      listing: Boolean): RDD[FileRow] = {
    val cols = Seq("partitionIdx", "blocksJson") ++ (if (!listing) Nil
      else Seq("path", "size", "modificationTime", "blockSize", "locationsJson"))
    table.select(cols.map(org.apache.spark.sql.functions.col): _*)
      .queryExecution.toRdd.map { r =>
        val blocks = IndexMetadata.blocksFromJsonString(r.getUTF8String(1).toString)
        if (!listing) new FileRow(r.getInt(0), blocks, null, null)
        else {
          // read out of the (reused) scan row before the entry is deferred
          val (path, size, mtime, blockSize, locations) = (r.getUTF8String(2).toString,
            r.getLong(3), r.getLong(4), r.getLong(5), r.getUTF8String(6).toString)
          new FileRow(r.getInt(0), blocks, path, FileEntry(path, size, mtime, Nil, blockSize,
            IndexMetadata.locationsFromJsonString(locations)))
        }
      }
  }

  // ---- per-file logic of the metadata computations -------------------

  /** Pruning over one slice of files: pass 1 folds `filter` over min/max
    * alone (no sketch IO); when `sketches` is given, the survivors'
    * sketches load in ONE pruned read and pass 2 refines their verdicts
    * with them. `select` runs one pass over a slice. */
  private[graft] def pruneSlice(
      rows: Seq[FileRow], filter: Filter, schema: StructType,
      sketches: Option[() => SketchStore],
      select: (Seq[FileRow], FileRow => Boolean) => Seq[FileRow]): Seq[FileRow] = {
    val survivors = select(rows, r =>
      FilterFold.fileMayContain(filter, r.blocks, _ => None, schema))
    sketches match {
      case Some(open) if survivors.nonEmpty =>
        val store = open()
        store.ensureLoaded(survivors.map(_.path))
        select(survivors, r => FilterFold.fileMayContain(
          filter, r.blocks, col => store.sketchFor(r.path, col), schema))
      case _ => survivors
    }
  }

  /** A driver pass: a parallel stream over slices of 64 files or more. */
  private[graft] def parallelFilter(rows: Seq[FileRow], p: FileRow => Boolean): Seq[FileRow] =
    if (rows.size < 64) rows.filter(p)
    else {
      import scala.jdk.CollectionConverters._
      rows.asJava.parallelStream().filter(r => p(r))
        .collect(java.util.stream.Collectors.toList[FileRow]).asScala.toSeq
    }

  /** Metadata stats: fold one file's blocks into its partition's running
    * aggregate (the zero is an empty map). */
  private[graft] def addStats(cols: Seq[String])(
      acc: Map[Int, MetaTableAgg], r: FileRow): Map[Int, MetaTableAgg] =
    acc.updated(r.partitionIdx, MetadataAggregates.foldFile(
      acc.getOrElse(r.partitionIdx, MetadataAggregates.zero(cols)), r.blocks, cols))

  private[graft] def mergeStats(
      a: Map[Int, MetaTableAgg], b: Map[Int, MetaTableAgg]): Map[Int, MetaTableAgg] =
    b.foldLeft(a) { case (acc, (i, s)) => acc.updated(i, acc.get(i).fold(s)(_ merge s)) }

  /** Top-k: (guaranteed bound, guaranteed non-null count) per row-group
    * of one file — the block's min of `col` for `largest`, else its max —
    * for blocks that record the bound and a null count leaving non-null
    * values. */
  private[graft] def blockPairs(blocks: Seq[BlockStats], col: String,
      largest: Boolean): Iterator[(Any, Long)] =
    blocks.iterator.flatMap { b =>
      for {
        cs <- b.columns.get(col)
        bound <- if (largest) cs.min else cs.max
        nulls <- cs.nullCount
        if b.rowCount - nulls > 0
      } yield (bound, b.rowCount - nulls)
    }

  /** [[graft.index.Canon.compare]] (Long, or String in UTF-8 binary
    * order) as a named serializable Ordering for the distributed sort. */
  private[graft] object CanonOrdering extends Ordering[Any] {
    override def compare(a: Any, b: Any): Int = graft.index.Canon.compare(a, b)
  }

  /** Best bound first: descending for `largest`. */
  private[graft] def bestFirst(largest: Boolean): Ordering[Any] =
    if (largest) CanonOrdering.reverse else CanonOrdering

  /** The kth walk over (bound, count) pairs in best-first order: the
    * bound at which the running count first reaches `k`, None if it
    * never does. */
  private[graft] def kthWalk(sorted: Iterator[(Any, Long)], k: Long): Option[Any] = {
    var rem = k
    var ans: Option[Any] = None
    while (sorted.hasNext && rem > 0) {
      val (bound, n) = sorted.next()
      ans = Some(bound)
      rem -= n
    }
    if (rem > 0) None else ans
  }

  /** [[kthWalk]] over unsorted pairs. */
  private[graft] def kthBound(pairs: Array[(Any, Long)], k: Long,
      largest: Boolean): Option[Any] =
    kthWalk(pairs.sortBy(_._1)(bestFirst(largest)).iterator, k)

  /** The least favorable of per-partition bounds; None unless every
    * partition proves one. */
  private[graft] def weakest(bounds: Seq[Option[Any]], largest: Boolean): Option[Any] =
    if (bounds.isEmpty || bounds.exists(_.isEmpty)) None
    else Some(bounds.flatten.max(bestFirst(largest)))
}

/** A [[FileStatus]] that DEFERS Path construction: at 10^6 files the
  * eager Path (and its internal URI — several string copies of the full
  * path each) owned most of the unselective listing's driver footprint.
  * The slim form keeps the shared parent Path, a slice of the partition's
  * basename blob, and the numeric fields, and materializes a real Path
  * only when a consumer calls getPath() (scan planning touches only the
  * files that survive pruning; the unselective listing itself never
  * does). Value-equal to the eager form: getPath resolves to the same
  * path, and every numeric accessor reads the same stored field. */
private[graft] final class SlimFileStatus(
    size: Long, mtime: Long, blockSize: Long,
    parent: Path, nameBlob: Array[Byte], nameStart: Int, nameEnd: Int)
  extends FileStatus(size, false, 1, blockSize, mtime, null) {
  override def getPath: Path = new Path(parent,
    new String(nameBlob, nameStart, nameEnd - nameStart, "UTF-8"))
}

/** One scan partition's flattened block-location data, shared by all of
  * its [[SlimLocatedFileStatus]]es: parallel (offset, length, hostSetId)
  * arrays plus the interned host sets. One object reference per file
  * instead of per-file BlockLocation[] + hosts arrays. */
private[graft] final class SlimLocPool(
    val offsets: Array[Long], val lengths: Array[Long],
    val hostIds: Array[Int], val hostSets: Array[Array[String]])

/** [[SlimFileStatus]]'s located twin: defers BOTH Path construction and
  * BlockLocation materialization. The eager form held, per file, a
  * BlockLocation[] + BlockLocation + two host-array copies + the
  * Path+URI — together most of the ~630 B/file the unselective listing
  * kept live. The slim form keeps three ints and two shared refs; a
  * consumer that asks (scan planning asks only for files that survive
  * pruning) gets freshly built, value-identical BlockLocations. */
private[graft] final class SlimLocatedFileStatus(
    size: Long, mtime: Long, blockSize: Long,
    parent: Path, nameBlob: Array[Byte], nameStart: Int, nameEnd: Int,
    pool: SlimLocPool, blockStart: Int, blockEnd: Int)
  extends LocatedFileStatus(size, false, 1, blockSize, mtime, 0L,
    null, null, null, null, null, null) {
  override def getPath: Path = new Path(parent,
    new String(nameBlob, nameStart, nameEnd - nameStart, "UTF-8"))
  override def getBlockLocations: Array[BlockLocation] = {
    val out = new Array[BlockLocation](blockEnd - blockStart)
    var i = 0
    while (i < out.length) {
      val b = blockStart + i
      val hosts = pool.hostSets(pool.hostIds(b))
      out(i) = new BlockLocation(hosts, hosts, pool.offsets(b), pool.lengths(b))
      i += 1
    }
    out
  }
}

/** Executor-side builder packing one scan partition of the files table
  * into a [[PackedListing]]. Garbage-light by construction: primitive
  * ArrayBuilders (no boxing), raw-byte parent/host interning against the
  * previous row (directory and host runs make the cache hit ~always), a
  * byte-level parser for the writer's own compact locations shape
  * (json4s only as fallback for foreign JSON), and a single growable
  * basename blob. */
private[graft] final class PackedListingBuilder {
  import scala.collection.mutable.ArrayBuilder
  private val sizes = new ArrayBuilder.ofLong
  private val mtimes = new ArrayBuilder.ofLong
  private val blockSizes = new ArrayBuilder.ofLong
  private val parentOf = new ArrayBuilder.ofInt
  private val parents = new scala.collection.mutable.ArrayBuffer[String]()
  private val parentIdx = new java.util.HashMap[String, Integer]()
  private var blob = new Array[Byte](1 << 16)
  private var blobLen = 0
  private val offsets = new ArrayBuilder.ofInt
  offsets += 0
  private val locAt = new ArrayBuilder.ofInt
  private val locBlockEnd = new ArrayBuilder.ofInt
  private val locOffsets = new ArrayBuilder.ofLong
  private val locLengths = new ArrayBuilder.ofLong
  private val locHostIds = new ArrayBuilder.ofInt
  private val hostSets = new scala.collection.mutable.ArrayBuffer[Array[String]]()
  private val hostIdx = new java.util.HashMap[String, Integer]()
  private val runIdx = new ArrayBuilder.ofInt
  private val runStart = new ArrayBuilder.ofInt
  private var lastRunIdx = -1
  private var n = 0
  private var nBlocks = 0
  private var lastParent: Array[Byte] = null
  private var lastParentId = -1
  private var lastHostSeg: Array[Byte] = null
  private var lastHostSegId = -1
  // per-file scratch reused across rows (grown rarely, no steady garbage)
  private var scratchOff = new Array[Long](4)
  private var scratchLen = new Array[Long](4)
  private var scratchHost = new Array[Int](4)
  // reusable row-bytes buffers: UTF8String.writeToMemory into these
  // instead of getBinary's fresh copy per row (~150 MB of transient
  // byte[]s at 10^6 files otherwise)
  private var pathBuf = new Array[Byte](256)
  private var locBuf = new Array[Byte](256)

  def isEmpty: Boolean = n == 0

  def add(r: InternalRow): Unit = {
    val pIdx = r.getInt(0)
    if (n == 0 || pIdx != lastRunIdx) {
      runIdx += pIdx; runStart += n; lastRunIdx = pIdx
    }
    sizes += r.getLong(2)
    mtimes += r.getLong(3)
    blockSizes += r.getLong(4)
    val pu = r.getUTF8String(1)
    val pbLen = pu.numBytes
    if (pbLen > pathBuf.length) {
      pathBuf = new Array[Byte](Integer.highestOneBit(pbLen) * 2)
    }
    pu.writeToMemory(pathBuf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET)
    val pb = pathBuf
    var cut = pbLen - 1
    while (cut >= 0 && pb(cut) != '/') cut -= 1
    val plen = math.max(cut, 0)
    val pid =
      if (lastParent != null && plen == lastParent.length &&
          java.util.Arrays.equals(pb, 0, plen, lastParent, 0, plen)) {
        lastParentId
      } else {
        val ps =
          if (cut <= 0) "/"
          else new String(pb, 0, cut, java.nio.charset.StandardCharsets.UTF_8)
        var pi = parentIdx.get(ps)
        if (pi == null) {
          parents += ps
          pi = Integer.valueOf(parents.length - 1)
          parentIdx.put(ps, pi)
        }
        lastParent = java.util.Arrays.copyOfRange(pb, 0, plen)
        lastParentId = pi.intValue
        lastParentId
      }
    parentOf += pid
    val nlen = pbLen - cut - 1
    if (blobLen + nlen > blob.length) {
      blob = java.util.Arrays.copyOf(blob, math.max(blob.length * 2, blobLen + nlen))
    }
    System.arraycopy(pb, cut + 1, blob, blobLen, nlen)
    blobLen += nlen
    offsets += blobLen
    n += 1
    if (!r.isNullAt(5)) {
      val lu = r.getUTF8String(5)
      val lbLen = lu.numBytes
      if (lbLen > 2) {
        if (lbLen > locBuf.length) {
          locBuf = new Array[Byte](Integer.highestOneBit(lbLen) * 2)
        }
        lu.writeToMemory(locBuf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET)
        addLocations(locBuf, lbLen)
      }
    }
  }

  private def addLocations(b: Array[Byte], bLen: Int): Unit = {
    val k = parseInto(b, bLen)
    if (k > 0) {
      locAt += n - 1
      var i = 0
      while (i < k) {
        locOffsets += scratchOff(i)
        locLengths += scratchLen(i)
        locHostIds += scratchHost(i)
        nBlocks += 1
        i += 1
      }
      locBlockEnd += nBlocks
    } else if (k < 0) {
      // any deviation from locationsToJsonString's compact shape
      val locs = IndexMetadata.locationsFromJsonString(
        new String(b, 0, bLen, java.nio.charset.StandardCharsets.UTF_8))
      if (locs.nonEmpty) {
        locAt += n - 1
        locs.foreach { l =>
          locOffsets += l.offset
          locLengths += l.length
          locHostIds += internHosts(l.hosts.toArray)
          nBlocks += 1
        }
        locBlockEnd += nBlocks
      }
    }
  }

  private def internHosts(hosts: Array[String]): Int = {
    val key = hosts.mkString(" ")
    var hi = hostIdx.get(key)
    if (hi == null) {
      hostSets += hosts
      hi = Integer.valueOf(hostSets.length - 1)
      hostIdx.put(key, hi)
    }
    hi.intValue
  }

  /** Raw host-list segment b[hs..he] (inclusive, '['..']') -> interned
    * id, via a byte compare against the previous segment first. */
  private def hostIdFor(b: Array[Byte], hs: Int, he: Int): Int = {
    val segLen = he - hs + 1
    if (lastHostSeg != null && segLen == lastHostSeg.length &&
        java.util.Arrays.equals(b, hs, he + 1, lastHostSeg, 0, segLen)) {
      return lastHostSegId
    }
    val hosts = new scala.collection.mutable.ArrayBuffer[String]()
    var r = hs + 1
    while (b(r) != ']') {
      if (b(r) == '"') {
        val s0 = r + 1
        var e0 = s0
        while (b(e0) != '"') e0 += 1
        hosts += new String(b, s0, e0 - s0, java.nio.charset.StandardCharsets.UTF_8)
        r = e0 + 1
      } else r += 1
    }
    val id = internHosts(hosts.toArray)
    lastHostSeg = java.util.Arrays.copyOfRange(b, hs, he + 1)
    lastHostSegId = id
    id
  }

  /** Parse `[[off,len,["h",...]],...]` into the scratch arrays. Returns
    * the block count, or -1 on ANY deviation (escapes, signs, spaces --
    * the caller falls back to the JSON library). */
  private def parseInto(b: Array[Byte], bLen: Int): Int = {
    var k = 0
    if (bLen < 2 || b(0) != '[') return -1
    var p = 1
    if (b(p) == ']') return if (p == bLen - 1) 0 else -1
    while (p < bLen) {
      if (b(p) != '[') return -1
      p += 1
      var off = 0L
      var any = false
      while (p < bLen && b(p) >= '0' && b(p) <= '9') {
        off = off * 10 + (b(p) - '0'); p += 1; any = true
      }
      if (!any || p >= bLen || b(p) != ',') return -1
      p += 1
      var len = 0L
      any = false
      while (p < bLen && b(p) >= '0' && b(p) <= '9') {
        len = len * 10 + (b(p) - '0'); p += 1; any = true
      }
      if (!any || p + 1 >= bLen || b(p) != ',' || b(p + 1) != '[') return -1
      val hs = p + 1
      var q = hs + 1
      while (q < bLen && b(q) != ']') {
        if (b(q) == '"') {
          q += 1
          while (q < bLen && b(q) != '"') {
            if (b(q) == '\\') return -1
            q += 1
          }
          if (q >= bLen) return -1
          q += 1
        } else if (b(q) == ',') q += 1
        else return -1
      }
      if (q >= bLen) return -1
      val hostId = hostIdFor(b, hs, q)
      p = q + 1
      if (p >= bLen || b(p) != ']') return -1
      p += 1
      if (k == scratchOff.length) {
        scratchOff = java.util.Arrays.copyOf(scratchOff, k * 2)
        scratchLen = java.util.Arrays.copyOf(scratchLen, k * 2)
        scratchHost = java.util.Arrays.copyOf(scratchHost, k * 2)
      }
      scratchOff(k) = off; scratchLen(k) = len; scratchHost(k) = hostId
      k += 1
      if (p >= bLen) return -1
      if (b(p) == ']') return if (p == bLen - 1) k else -1
      if (b(p) != ',') return -1
      p += 1
    }
    -1
  }

  def result(): PackedListing = new PackedListing(
    runIdx.result(), runStart.result(), n,
    sizes.result(), mtimes.result(), blockSizes.result(),
    parentOf.result(), parents.toArray,
    java.util.Arrays.copyOf(blob, blobLen), offsets.result(),
    locAt.result(), locBlockEnd.result(),
    locOffsets.result(), locLengths.result(), locHostIds.result(),
    hostSets.toArray)
}

/** One scan partition of the files table, packed into primitive columns
  * (the only per-file driver state the unselective listing holds).
  * `runIdx`/`runStart` delimit the contiguous partitionIdx runs so the
  * driver can slice per-partition ranges without per-file indices.
  * `status(i)` materializes the i-th file's slim FileStatus on demand. */
private[graft] final class PackedListing(
    val runIdx: Array[Int], val runStart: Array[Int], val numFiles: Int,
    sizes: Array[Long], mtimes: Array[Long], blockSizes: Array[Long],
    parentOf: Array[Int], parentStrs: Array[String],
    blob: Array[Byte], offsets: Array[Int],
    locAt: Array[Int], locBlockEnd: Array[Int],
    locOffsets: Array[Long], locLengths: Array[Long], locHostIds: Array[Int],
    hostSets: Array[Array[String]]) extends Serializable {
  @transient private lazy val parents: Array[Path] = parentStrs.map(new Path(_))
  @transient private lazy val pool: SlimLocPool =
    new SlimLocPool(locOffsets, locLengths, locHostIds, hostSets)
  def status(i: Int): FileStatus = {
    val li = java.util.Arrays.binarySearch(locAt, i)
    if (li >= 0) {
      val bEnd = locBlockEnd(li)
      val bStart = if (li == 0) 0 else locBlockEnd(li - 1)
      new SlimLocatedFileStatus(sizes(i), mtimes(i), blockSizes(i),
        parents(parentOf(i)), blob, offsets(i), offsets(i + 1),
        pool, bStart, bEnd)
    } else {
      new SlimFileStatus(sizes(i), mtimes(i), blockSizes(i),
        parents(parentOf(i)), blob, offsets(i), offsets(i + 1))
    }
  }
}

/** A PartitionDirectory `files` seq backed by [[PackedListing]] ranges:
  * the listing itself holds no per-file objects; each access builds a
  * fresh slim status (consumers -- scan planning, listing counters --
  * touch each file once, so the per-access construction is transient
  * young-gen work instead of a held 10^6-object graph). */
private[graft] final class LazyFileSeq(ranges: Array[(PackedListing, Int, Int)])
  extends scala.collection.immutable.IndexedSeq[FileStatusWithMetadata] {
  private[this] val cumEnd: Array[Int] = {
    val a = new Array[Int](ranges.length)
    var s = 0
    var i = 0
    while (i < ranges.length) { s += ranges(i)._3 - ranges(i)._2; a(i) = s; i += 1 }
    a
  }
  override val length: Int = if (cumEnd.isEmpty) 0 else cumEnd(cumEnd.length - 1)
  override def apply(k: Int): FileStatusWithMetadata = {
    if (k < 0 || k >= length) throw new IndexOutOfBoundsException(k.toString)
    var r = java.util.Arrays.binarySearch(cumEnd, k)
    r = if (r >= 0) r + 1 else -r - 1 // first range whose cumEnd > k
    val base = if (r == 0) 0 else cumEnd(r - 1)
    val (p, from, _) = ranges(r)
    FileStatusWithMetadata(p.status(from + (k - base)))
  }
}
