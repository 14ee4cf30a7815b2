package graft.index

import org.apache.hadoop.fs.{FileStatus, Path}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graft.{GraftFileIndex, SparkInternals}
import org.apache.spark.sql.types.{StructField, StructType}

import graft.ops.Parallel

/** Index lifecycle: create / exists / delete / load for a Parquet table
  * path or catalog table. The reference's IndexedDataSource.scala +
  * ParquetMetastoreSupport.scala re-expressed Spark-first:
  *   - file listing + partition discovery via InMemoryFileIndex;
  *   - footer statistics, sketches and the min/max fallback from one
  *     executor pass per data file ([[StatisticsBuilder]]);
  *   - pruning lives in [[GraftFileIndex.listFiles]] (no planner strategy).
  */
object IndexedDataSource {

  /** Driver residency of the LAST distributed listing+diff run: (max
    * directory rows collected at any level, partition tuples collected,
    * added file refs collected). The O(dirs + partitions + delta) claim
    * made measurable — Bench and the scale e2e assert these stay orders
    * of magnitude under the file count. */
  @volatile private[graft] var lastListingResidency: Option[(Long, Long, Long)] = None

  /** Telemetry of the LAST manifest-guided refresh listing:
    * (manifest dirs probed, dirs re-listed [changed+new], dirs deleted,
    * dirs skipped as unchanged). None when the manifest tier didn't run
    * (first refresh, conf off, or unreadable manifest). */
  @volatile private[graft] var lastManifestStats: Option[(Long, Long, Long, Long)] = None



  def resolveTablePath(spark: SparkSession, path: String): Path = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"table path does not exist: $path")
    fs.makeQualified(p)
  }

  /** Manifest-tier engagement for a root set: "auto" engages only when
    * EVERY root lives on a scheme with real directory mtimes
    * (IndexConf.refreshDirManifestSchemes — HDFS-family by default).
    * Object stores (s3a/gs/...) have synthetic directories whose mtime
    * never moves when files land, so an auto-engaged probe there would
    * report "unchanged" forever and refresh would silently stop
    * indexing new data; they must opt in with "true". Local file:// is
    * excluded too — the parallel-statx walk already beats the tier's
    * read/probe/rewrite there. */
  private def manifestEnabled(conf: IndexConf, rootStrs: Seq[String]): Boolean =
    conf.refreshDirManifest match {
      case "true" => true
      case "false" => false
      case _ =>
        val allowed = conf.refreshDirManifestSchemes
        rootStrs.nonEmpty && rootStrs.forall { r =>
          val i = r.indexOf(':')
          i > 0 && allowed.contains(r.substring(0, i).toLowerCase)
        }
    }

  /** Hadoop glob metacharacters (GlobFilter's alphabet). */
  private def isGlob(s: String): Boolean =
    s.exists(c => "{}[]*?\\".indexOf(c) >= 0)

  /** Resolve path specs — concrete dirs/files, globs, or several of
    * either — to the SORTED, deduplicated set of qualified non-glob
    * roots (the reference resolves exactly one non-glob dir,
    * IndexedDataSource.scala:173-177; multi-root and glob tables are a
    * deliberate extension — same index machinery, several listing
    * roots). The sort makes the set canonical, so the same spec always
    * lands on the same metastore entry. Nested roots are rejected: the
    * outer root's listing already contains the inner's files, so the
    * index would double-count them. */
  def resolveTableRoots(spark: SparkSession, paths: Seq[String]): Seq[Path] = {
    require(paths.nonEmpty, "at least one table path required")
    val hconf = spark.sparkContext.hadoopConfiguration
    val roots = paths.flatMap { p =>
      val hp = new Path(p)
      val fs = hp.getFileSystem(hconf)
      if (isGlob(p)) {
        val hits = Option(fs.globStatus(hp)).map(_.toSeq).getOrElse(Nil)
        require(hits.nonEmpty, s"glob matched nothing: $p")
        hits.map(st => fs.makeQualified(st.getPath))
      } else {
        require(fs.exists(hp), s"table path does not exist: $p")
        Seq(fs.makeQualified(hp))
      }
    }.distinct.sortBy(_.toString)
    val set = roots.map(_.toString).toSet
    roots.foreach { r =>
      var p = r.getParent
      while (p != null) {
        require(!set.contains(p.toString),
          s"table roots must not nest: $p contains $r")
        p = p.getParent
      }
    }
    roots
  }

  /** Build and persist the index (reference flow §3.1): a refresh of an
    * empty index. After validation, the driver tier of [[refreshIndex]]
    * stages every listed file as added (one stats pass, which writes the
    * files and sketch tables from wherever it runs, so no O(files) rows
    * reach the driver) and its swap commits them, under `_SUCCESS`.
    * `options` are per-call `spark.sql.index.*` overrides from the fluent
    * API. */
  def createIndex(
      spark: SparkSession,
      path: String,
      dataspace: String,
      mode: SaveMode,
      columns: Seq[String],
      indexAll: Boolean,
      options: Map[String, String] = Map.empty,
      source: String = Sources.Parquet): Unit =
    createIndex(spark, Seq(path), dataspace, mode, columns, indexAll, options, source)

  /** Multi-root/glob create: the resolved root SET gets one metastore
    * entry; listing, stats and pruning treat the union of roots as one
    * table. */
  def createIndex(
      spark: SparkSession,
      paths: Seq[String],
      dataspace: String,
      mode: SaveMode,
      columns: Seq[String],
      indexAll: Boolean,
      options: Map[String, String],
      source: String): Unit = {
    val src = Sources.normalize(source)
    val conf = IndexConf(spark, options)
    val metastore = new Metastore(spark, conf)
    val roots = resolveTableRoots(spark, paths)

    // Discovery + validation BEFORE the SaveMode transaction, so a bad
    // indexBy() cannot destroy an existing index under Overwrite (the
    // reference validates inside the create body and loses the old index
    // on validation failure — deliberate delta).
    // The manifest seed's capture time is taken BEFORE the listing: the
    // stats build below can run for minutes at manifest scale, and a
    // file committed to an already-listed dir during that window bakes
    // its bump into the recorded dir mtime while being absent from the
    // index. capturedAt <= the listing start keeps such dirs failing the
    // `capturedAt > mtime + slack` skip proof, so the first refresh
    // re-lists them and picks the file up.
    val seedCaptureMs = System.currentTimeMillis()
    val listing @ (partitionSchema, partDirs) = SparkInternals.discoverTable(spark, roots)
    val allFiles = partDirs.flatMap(_._2).filter(_.getLen > 0)
    require(allFiles.nonEmpty || partDirs.nonEmpty,
      s"no $src files under ${roots.mkString(", ")}")

    // First-file schema is usually enough to validate the indexBy()
    // columns (the reference also infers the index schema from the first
    // footer), read from that footer on the driver; only when the first
    // listed file of a heterogeneous table lacks one does validation read
    // the merged schema of all files (their footers on the driver when
    // they fit one scan task, as the pass does). The persisted data
    // schema is merged across ALL files by the pass, so heterogeneous
    // tables keep every column.
    val firstSchema: StructType =
      if (allFiles.isEmpty) StructType(Nil)
      else SparkInternals.fileSchema(spark, src, allFiles.head)

    // the pass reads the indexed columns with the types of the schema
    // they were resolved against: the empty index's data schema
    val (indexSchema, readSchema) =
      try (resolveIndexSchema(firstSchema, partitionSchema, columns, indexAll), firstSchema)
      catch {
        case _: IllegalArgumentException if allFiles.size > 1 =>
          val merged = SparkInternals.filesSchema(spark, src, allFiles)
          (resolveIndexSchema(merged, partitionSchema, columns, indexAll), merged)
      }
    val empty = IndexMetadata(
      // the LOWEST version describing this schema, so indexes without
      // new-domain fields stay readable by older binaries
      version = IndexMetadata.versionFor(indexSchema, roots.size > 1),
      tablePath = roots.head.toString,
      tablePaths = if (roots.size > 1) roots.map(_.toString) else Nil,
      dataSchema = readSchema,
      indexSchema = indexSchema,
      partitionSchema = partitionSchema,
      sketchKind = if (conf.filterEnabled && indexSchema.nonEmpty) Some(conf.filterType) else None,
      source = src,
      partitionValues = Nil,
      fileCount = 0L,
      totalBytes = 0L)

    // Same sibling lock refresh holds: a create (overwrite deletes the
    // index dir) cannot interleave with a live refresh of the same index.
    graft.ops.MaintenanceLock.withSiblingLock(
        metastore.fs, metastore.location(dataspace, roots)) {
    metastore.create(dataspace, roots, mode) { indexDir => underJobTag(spark) {
      val dirs = RefreshDirs(indexDir)
      dirs.clearStaging(metastore.fs)
      commit(metastore, dirs, stageOnDriver(spark, conf, metastore, empty,
        passReader(spark, conf, empty), dirs, listing, Nil))
      seedManifest(spark, conf, dirs, roots, allFiles, seedCaptureMs)
    } }
    } // withSiblingLock
  }

  /** Seeds the dir-mtime manifest for incremental refresh listing (only
    * worth maintaining at distributed-listing scale): every ancestor dir
    * of every file, with its CURRENT mtime. The capture time is taken
    * BEFORE the listing started (see [[createIndex]]), so any dir written
    * during the whole listing-to-probe window fails the refresh skip
    * proof and re-lists. */
  private def seedManifest(spark: SparkSession, conf: IndexConf, dirs: RefreshDirs,
      roots: Seq[Path], files: Seq[FileStatus], capturedAt: Long): Unit = {
    val rootStrs = roots.map(_.toString)
    if (manifestEnabled(conf, rootStrs) && files.size >= conf.distributedPruningThreshold) {
      val dirSet = scala.collection.mutable.HashSet.empty[String]
      rootStrs.foreach(dirSet += _)
      files.foreach { f =>
        var p = f.getPath.getParent
        while (p != null && !dirSet.contains(p.toString) &&
            rootStrs.exists(rt => p.toString == rt || p.toString.startsWith(rt + "/"))) {
          dirSet += p.toString
          p = p.getParent
        }
      }
      // a roots-only manifest (flat layout) can never skip a dir
      if (dirSet.size > rootStrs.size) {
        val dl = dirSet.toSeq.sorted
        val slices = math.max(1, math.min(spark.sparkContext.defaultParallelism * 2, dl.size))
        val confBc = spark.sparkContext.broadcast(
          new org.apache.spark.util.SerializableConfiguration(
            spark.sparkContext.hadoopConfiguration))
        val probed = spark.sparkContext.parallelize(dl, slices).flatMap { d =>
          try {
            val st = new Path(d).getFileSystem(confBc.value.value).getFileStatus(new Path(d))
            Iterator.single((d, st.getModificationTime, capturedAt))
          } catch { case _: java.io.IOException => Iterator.empty }
        }.collect() // O(dirs) — same class as the refresh walk's frontier
        stageManifest(spark, dirs, probed.toSeq, rootStrs.size)
        installManifest(dirs.indexDir.getFileSystem(spark.sparkContext.hadoopConfiguration), dirs)
      }
    }
  }

  /** Validate/choose indexed columns (reference ParquetSchemaUtils.scala:
    * 40-87 + ParquetMetastoreSupport.scala:111-117, EXTENDED to dotted
    * nested leaves — modern footers carry per-leaf stats, so the
    * reference's top-level-only limit no longer applies): supported leaf
    * type, unique, not a partition column, path through NON-REPEATED
    * structs only (a leaf under an array/map counts values, not rows —
    * its stats can't answer row predicates); indexByAll prunes to
    * supported TOP-LEVEL columns. The index-schema field NAME is the
    * dotted path in the table's own casing — the key the footer
    * dot-strings, sketches and filter fold all join on. */
  private def resolveIndexSchema(
      dataSchema: StructType,
      partitionSchema: StructType,
      columns: Seq[String],
      indexAll: Boolean): StructType = {
    val partitionCols = partitionSchema.fieldNames.map(_.toLowerCase).toSet
    if (indexAll) {
      StructType(dataSchema.fields.filter(f =>
        Canon.isSupported(f.dataType) && !partitionCols.contains(f.name.toLowerCase)))
    } else {
      require(columns.nonEmpty, "no columns given to indexBy")
      val dups = columns.groupBy(_.toLowerCase).filter(_._2.size > 1).keys
      require(dups.isEmpty, s"duplicate index columns: ${dups.mkString(", ")}")
      val fields = columns.flatMap { c =>
        require(!partitionCols.contains(c.toLowerCase),
          s"cannot index partition column $c (reference ParquetMetastoreSupport.scala:111-117)")
        require(!c.endsWith(IndexMetadata.MapValueSuffix),
          s"column name $c collides with the reserved map value-domain " +
            s"suffix '${IndexMetadata.MapValueSuffix}'")
        val (f, arrayPrefix) = resolveLeaf(dataSchema, c).getOrElse(
          throw new IllegalArgumentException(
            s"column $c not found in table schema ${dataSchema.simpleString} " +
              "(nested paths resolve through structs, plus at most ONE " +
              "array-of-struct level; never through maps)"))
        (f.dataType, arrayPrefix) match {
          // leaf under ONE array-of-struct level (events.type over
          // events: array<struct<type,...>>): an ELEMENT domain over the
          // leaf values of every element — exists(col, x -> x.f = v) and
          // array_contains(col.f, v) prune by element membership; the
          // prefix records where the repeated level splits the physical
          // leaf path
          case (dt, Some(prefix)) =>
            require(Canon.isSupported(dt),
              s"column $c is an array-of-struct leaf of unsupported type " +
                s"${dt.simpleString}; supported leaves: int, bigint, string, " +
                "date, timestamp, timestamp_ntz, double, float, decimal(p<=18)")
            Seq(StructField(f.name, dt, f.nullable,
              new org.apache.spark.sql.types.MetadataBuilder()
                .withMetadata(f.metadata)
                .putBoolean(IndexMetadata.ArrayElementKey, true)
                .putString(IndexMetadata.ArrayPrefixKey, prefix).build()))
          // array<primitive>: the index field carries the ELEMENT type +
          // a marker — element min/max + dict/bloom answer
          // array_contains(col, v) membership soundly (a file with no
          // element == v has no containing row); row-domain consumers
          // (metadata aggregates, top-k, null reasoning) skip the field
          case (org.apache.spark.sql.types.ArrayType(et, _), None) =>
            require(Canon.isSupported(et),
              s"column $c is an array of unsupported element type " +
                s"${et.simpleString}; supported elements: int, bigint, string, " +
                "date, timestamp, timestamp_ntz, double, float, decimal(p<=18)")
            Seq(StructField(f.name, et, f.nullable,
              new org.apache.spark.sql.types.MetadataBuilder()
                .withMetadata(f.metadata)
                .putBoolean(IndexMetadata.ArrayElementKey, true).build()))
          // map<primitive, _>: the index field carries the KEY type + a
          // marker — key min/max + dict/bloom answer map_contains_key
          // (col, k) / col[k] = lit membership soundly (a file with no
          // entry keyed k has no matching row); same row-domain
          // exclusions as array elements. A supported VALUE type adds a
          // second, `#value`-suffixed field over the entry values, so
          // m[k] = v also prunes by value membership of v.
          case (org.apache.spark.sql.types.MapType(kt, vt, _), None) =>
            require(Canon.isSupported(kt),
              s"column $c is a map with unsupported key type " +
                s"${kt.simpleString}; supported keys: int, bigint, string, " +
                "date, timestamp, timestamp_ntz, double, float, decimal(p<=18)")
            val keyField = StructField(f.name, kt, f.nullable,
              new org.apache.spark.sql.types.MetadataBuilder()
                .withMetadata(f.metadata)
                .putBoolean(IndexMetadata.MapKeyKey, true).build())
            val valueField =
              if (!Canon.isSupported(vt)) Nil
              else {
                val vName = IndexMetadata.mapValueFieldName(f.name)
                require(resolveLeaf(dataSchema, vName).isEmpty,
                  s"table column $vName collides with the generated map " +
                    s"value-domain field for $c")
                Seq(StructField(vName, vt, nullable = true,
                  new org.apache.spark.sql.types.MetadataBuilder()
                    .putBoolean(IndexMetadata.MapValueKey, true).build()))
              }
            keyField +: valueField
          case (dt, None) =>
            require(Canon.isSupported(dt),
              s"column $c has unsupported type ${dt.simpleString}; " +
                "supported: int, bigint, string, date, timestamp, timestamp_ntz, " +
                "double, float, decimal(p<=18), array<primitive>, map<primitive, _>, " +
                "and struct leaves under at most one array level")
            Seq(f)
        }
      }
      StructType(fields)
    }
  }

  /** Resolve a (possibly dotted) column path to its leaf field — struct
    * hops plus at most ONE hop through an array-of-structs (the repeated
    * level `array<struct<...>>`, the most common real nested shape),
    * case-insensitive per segment; the returned field carries the FULL
    * dotted path in the table's own casing as its name, and the second
    * element is the dotted path of the crossed ARRAY column when the
    * leaf sits inside one (its stats then describe array ELEMENTS, not
    * rows). Paths through maps or a second array level return None. */
  private def resolveLeaf(
      schema: StructType, path: String): Option[(StructField, Option[String])] = {
    val segs = path.split('.')
    var cur: org.apache.spark.sql.types.DataType = schema
    val actual = scala.collection.mutable.ArrayBuffer.empty[String]
    var leaf: Option[StructField] = None
    var arrayPrefix: Option[String] = None
    for ((seg, i) <- segs.zipWithIndex) {
      cur match {
        case st: StructType =>
          st.fields.find(_.name.equalsIgnoreCase(seg)) match {
            case Some(f) =>
              actual += f.name
              cur = f.dataType
              // descend INTO an array-of-structs exactly once: the path
              // continues into the element struct; remember where the
              // repeated level sits
              cur match {
                case org.apache.spark.sql.types.ArrayType(et: StructType, _)
                    if i < segs.length - 1 && arrayPrefix.isEmpty =>
                  arrayPrefix = Some(actual.mkString("."))
                  cur = et
                case _ =>
              }
              if (i == segs.length - 1) leaf = Some(f)
            case None => return None
          }
        case _ => return None // path hops through a non-struct
      }
    }
    leaf.map(f =>
      (StructField(actual.mkString("."), f.dataType, f.nullable, f.metadata), arrayPrefix))
  }

  /** Outcome of [[refreshIndex]]: how many data files were (re-)indexed
    * and how many stale entries were dropped. (0, 0) = index was current. */
  case class RefreshStats(addedFiles: Long, removedFiles: Long)

  /** Incrementally refresh an existing index after the table gained or
    * lost files. The reference rejects SaveMode.Append outright
    * (ParquetMetastoreSupport.scala:104-107) — but at 100 TB a full
    * rebuild because one day of files landed is not an option, so
    * refresh re-indexes ONLY the delta. The current listing is diffed
    * against the `files` table on (path, size, modificationTime): a
    * rewritten file (same path, new size/mtime) counts as removed +
    * added. Two tiers, split at the pruning threshold
    * (`spark.sql.index.pruning.distributedThreshold`) on the indexed
    * file count of the cached metadata:
    *
    *   - below it, everything the refresh decides runs on the driver,
    *     over rows that are driver-sized anyway, in four step groups whose
    *     steps run concurrently ([[graft.ops.Parallel.inParallel]]):
    *     1. Spark's InMemoryFileIndex lists the table, the old rows are
    *        read (parquet-mr, past the reader cache) and the metadata is
    *        re-read past the metastore cache; the pass's reader, which
    *        needs only the index's schemas, is built from the cached
    *        metadata beside the lock and this group;
    *     2. the diff in hash sets picks the added files, whose stats pass
    *        runs beside [[StatisticsBuilder.stageSketchRemovals]] (removed
    *        paths leave the sketch table by whole part files);
    *     3. the files table's part (rewritten whole when files were
    *        removed), the delta's sketch part and the two commit files
    *        (`metadata.json`, summarized from the kept rows and the pass's
    *        summary, and `_SUCCESS`, both under hidden names) are written,
    *        still beside the removals;
    *     4. the swap, only deletes and renames.
    *     A delta that fits one scan task (see [[StatisticsBuilder.withPass]])
    *     has its pass run on the driver too, so such a refresh starts no
    *     Spark job. The commit then hands the snapshot it holds to the
    *     read caches instead of leaving them cold: the metadata as parsed
    *     from the file just written, the files-table rows just written and
    *     the sketch store patched with the delta's sketches.
    *     [[createIndex]] is this tier run against an empty index;
    *   - at/above it, the listing is a distributed level-walk and the diff
    *     a full-outer join that collects only the added refs, so driver
    *     residency stays O(dirs + partitions + delta); stale rows drop by
    *     a semi-join, and removals re-summarize the settled table. Its rows
    *     never reach the driver, so its commit drops the read caches.
    *
    * Both tiers, and create, index the added files one way (`indexDelta`):
    * one stats pass over them (footers, sketches and the min/max fallback
    * from one read of each file) writes their files-table rows and their
    * sketches to the staging dirs and returns their summary.
    *
    * Partition dirs keep their original indexes (the metadata partition
    * list is append-only), so kept rows stay valid; newly listed ones
    * append in the order of their value strings.
    *
    * Write, then swap. Under the index's sibling maintenance lock, every
    * write goes to staging first: `files_tmp` holds the whole new files
    * table when files were removed (sorted by partitionIdx, path), else
    * the delta's part files; `sketches_tmp` holds the delta's sketches,
    * plus the live old rows (the distributed tier, removals only) or the
    * filtered copies of part files mixing live and removed paths (the
    * driver tier); `.metadata.json.tmp` and `._SUCCESS.tmp` hold the
    * commit files. Only then is `_SUCCESS` removed, the staged tables
    * moved into place (a delete + rename, or a part-file move that first
    * deletes the replaced parts) and the commit files renamed in. A
    * refresh that fails before the swap — an unreadable added file
    * failing the pass, say — cancels its Spark jobs, waits for their
    * tasks to end, deletes the staging and leaves the index loadable and
    * unchanged; a rerun converges. A crash inside the swap window fails
    * subsequent loads ("create it first") instead of serving a torn
    * index; re-create to recover.
    *
    * Limitation (shared with Spark's own file-listing caches): a file
    * rewritten IN PLACE with both size and mtime preserved (`cp -p` over
    * same-length content) is indistinguishable from unchanged and keeps
    * its old stats; use create.mode("overwrite") after such a rewrite.
    */
  def refreshIndex(
      spark: SparkSession,
      path: String,
      dataspace: String,
      options: Map[String, String] = Map.empty): RefreshStats =
    refreshIndex(spark, Seq(path), dataspace, options)

  /** Multi-root refresh. The ROOT SET is frozen at create (it keys the
    * metastore entry): a glob that matches new directories resolves to
    * a DIFFERENT set — create a new index for it; refresh picks up new
    * FILES under the existing roots. */
  def refreshIndex(
      spark: SparkSession,
      paths: Seq[String],
      dataspace: String,
      options: Map[String, String]): RefreshStats = {
    val conf = IndexConf(spark, options)
    val metastore = new Metastore(spark, conf)
    val roots = resolveTableRoots(spark, paths)
    // the cached metadata only picks the tier (and fails a missing
    // index early); what the refresh writes builds on the metadata
    // re-read under the lock, so another writer's commit is never lost
    val (indexDir, cached) = metastore.load(dataspace, roots)
    val fs = metastore.fs
    val hconf = spark.sparkContext.hadoopConfiguration
    val dirs = RefreshDirs(indexDir)

    // the pass's reader needs only the index's schemas: on the driver
    // tier it is built from the cached metadata while the lock is taken
    // and the table listed (it starts no Spark job), and rebuilt if the
    // re-read metadata changed them (or building it failed)
    val driverTier = cached.fileCount < conf.distributedPruningThreshold
    Parallel.beside(Option.when(driverTier)(scala.util.Try(passReader(spark, conf, cached)))) {
        cachedReader =>

    // Single-writer enforcement: the diff, the staged writes and the swap
    // run under the index's SIBLING maintenance lock (shared with
    // create/delete, which remove the index dir itself) — a concurrent
    // run fails fast instead of interleaving table rewrites; a crashed
    // run's lock lease-expires.
    graft.ops.MaintenanceLock.withSiblingLock(fs, indexDir) {
    // staging of a run that died before its own cleanup
    dirs.clearStaging(fs)

    try underJobTag(spark) {
      val staged =
        if (driverTier) {
          val ((listed, old), meta) = Parallel.inParallel(
            Parallel.inParallel(SparkInternals.discoverTable(spark, roots),
              IndexFilesTable.readUncached(dirs.files, hconf)),
            metastore.loadUncached(indexDir, roots.head))
          val metaRoots = meta.rootPathStrings.map(new Path(_))
          val listing =
            if (metaRoots == roots) listed else SparkInternals.discoverTable(spark, metaRoots)
          val schemas = (m: IndexMetadata) => (m.indexSchema, m.dataSchema, m.sketchKind, m.source)
          val reader = cachedReader().filter(_ => schemas(meta) == schemas(cached))
            .flatMap(_.toOption).getOrElse(passReader(spark, conf, meta))
          stageOnDriver(spark, conf, metastore, meta, reader, dirs, listing, old)
        } else {
          val meta = metastore.loadUncached(indexDir, roots.head)
          val oldKeys = spark.read.schema(IndexFilesTable.Schema).parquet(dirs.files.toString)
            .select("path", "size", "modificationTime")
          val (currentKeys, addedRefs, removedCount, partValues, manifest) =
            distributedListingDiff(spark, meta.rootPathStrings.map(new Path(_)), meta, oldKeys,
              RefreshKey, dirs.listingTmp, indexDir, conf)
          manifest.foreach(stageManifest(spark, dirs, _, meta.rootPathStrings.size))
          stageDistributed(spark, conf, metastore, meta, dirs, currentKeys, addedRefs,
            removedCount, partValues, manifest.isDefined)
        }

      // nothing to mutate: still persist the refreshed manifest so dirs
      // captured inside the mtime-slack window stop re-listing forever
      if (staged.noop) { if (staged.manifest) installManifest(fs, dirs) }
      else {
        // the swap: the only window in which the index is unloadable
        fs.delete(new Path(indexDir, Metastore.SuccessFile), false)
        commit(metastore, dirs, staged)
      }
      RefreshStats(staged.added, staged.removed)
    } finally {
      // staging left by a failure before the swap, and the distributed
      // listing's scratch table (read lazily until the staged writes end)
      dirs.clearStaging(fs)
    }
    } // MaintenanceLock.withSiblingLock
    } // Parallel.beside
  }

  /** The diff key of a file: a rewrite changes size or mtime. */
  private val RefreshKey = Seq("path", "size", "modificationTime")

  /** The order newly listed partitions append to the metadata's list in:
    * by their value strings, null first, whatever order the listing
    * returned them in. */
  private val NewPartitionOrder: Ordering[Seq[Option[String]]] =
    Ordering.Implicits.seqOrdering(Ordering.Option(Ordering.String))

  /** The tables a refresh touches and what it stages before its swap. */
  private case class RefreshDirs(indexDir: Path) {
    val files = new Path(indexDir, Metastore.FilesDir)
    val sketches = new Path(indexDir, Metastore.SketchDir)
    val manifest = new Path(indexDir, Metastore.DirsDir)
    val filesTmp = new Path(indexDir, Metastore.FilesDir + "_tmp")
    val sketchTmp = new Path(indexDir, Metastore.SketchDir + "_tmp")
    val listingTmp = new Path(indexDir, Metastore.FilesDir + "_listing_tmp")
    val manifestTmp = new Path(indexDir, Metastore.DirsDir + "_tmp")
    val metadataTmp = Metastore.staged(indexDir, Metastore.MetadataFile)
    val successTmp = Metastore.staged(indexDir, Metastore.SuccessFile)

    def clearStaging(fs: org.apache.hadoop.fs.FileSystem): Unit =
      Seq(filesTmp, sketchTmp, listingTmp, manifestTmp, metadataTmp, successTmp)
        .foreach(fs.delete(_, true))
  }

  /** A refresh written to staging: the counts it reports and the
    * metadata its commit files hold, as a load will parse them (`noop`:
    * nothing changed, nothing was staged). `replace`: the staged tables
    * are whole (files were removed); else they hold only the delta's part
    * files. `sketchDrop`: the sketch table is staged by part files
    * instead — these live parts go, the staged ones join the rest.
    * `manifest`: the swap replaces the stored dir manifest with the staged
    * one, or drops it when none was staged. `handOver`: what the commit
    * installs in the read caches beside `meta`. */
  private case class Staged(added: Long, removed: Long, noop: Boolean, meta: IndexMetadata,
      replace: Boolean, sketchDrop: Option[Seq[String]], manifest: Boolean,
      handOver: Option[HandOver])

  /** The committed snapshot the driver tier holds: the files-table rows
    * when the pass ran on the driver (kept plus delta rows, as written),
    * the removed and the delta's normalized paths, the delta's sketch rows
    * when the pass ran on the driver, and the sketch store they patch,
    * when the cached one describes the index on disk. */
  private case class HandOver(rows: Option[Seq[FileStatsRow]], removed: Set[String],
      delta: Set[String], sketches: Option[Seq[StatisticsBuilder.SketchRow]],
      prior: Option[SketchStore])

  /** Driver tier of [[refreshIndex]], over the table's `listing`
    * (partition schema and files per partition dir) and the `old`
    * files-table rows: the diff on the driver, then the added files
    * indexed by [[indexDelta]] beside the sketch removals, the commit
    * files written beside the pass's. The metadata's partition list is
    * append-only: existing entries keep their position, so kept rows stay
    * valid, and newly listed partition dirs append, also those holding
    * only empty files. Entries whose partition vanished stay (no file row
    * references them — harmless). */
  private def stageOnDriver(
      spark: SparkSession,
      conf: IndexConf,
      metastore: Metastore,
      meta: IndexMetadata,
      reader: StatisticsBuilder.Reader,
      dirs: RefreshDirs,
      listing: (StructType, Seq[(InternalRow, Seq[FileStatus])]),
      old: Seq[FileStatsRow]): Staged = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val (partitionSchema, partDirs) = listing
    // a table whose files are all gone lists no partitions to infer its
    // layout from; partition dirs of empty files are still listed
    val sameLayout = org.apache.spark.sql.types.DataType.equalsIgnoreNullability(
      partitionSchema, meta.partitionSchema)
    require(sameLayout || partDirs.forall(_._2.isEmpty),
      s"partition schema changed (${meta.partitionSchema.simpleString} -> " +
        s"${partitionSchema.simpleString}); rebuild the index with create.mode(\"overwrite\")")
    val listed: Seq[(Seq[Option[String]], Seq[FileStatus])] =
      if (!sameLayout) Nil
      else partDirs.map { case (values, files) =>
        partitionSchema.fields.zipWithIndex.toSeq.map { case (f, i) =>
          IndexMetadata.castToString(f.dataType, values.get(i, f.dataType))
        } -> files
      }
    val idxByValues = scala.collection.mutable.HashMap(meta.partitionValues.zipWithIndex: _*)
    val newPartitions = listed.map(_._1).filterNot(idxByValues.contains).distinct
      .sorted(NewPartitionOrder)
    newPartitions.foreach(v => idxByValues(v) = idxByValues.size)
    val current: Seq[(Int, StatisticsBuilder.FileRef)] = listed.flatMap { case (v, files) =>
      files.filter(_.getLen > 0).map { f =>
        val locs = SparkInternals.blockLocations(f)
        idxByValues(v) -> StatisticsBuilder.FileRef(
          f.getPath.toString, f.getLen, f.getModificationTime,
          blockSize = if (f.getBlockSize > 0) f.getBlockSize else FileEntry.DefaultBlockSize,
          locationsJson = IndexMetadata.locationsToJsonString(locs),
          hosts = locs.flatMap(_.hosts).distinct)
      }
    }
    // lazy: a create has no old rows to test, so it never builds the set
    lazy val liveKeys =
      current.iterator.map { case (_, r) => (r.path, r.size, r.modificationTime) }.toSet
    val oldKeys = old.iterator.map(r => (r.path, r.size, r.modificationTime)).toSet
    val (kept, removed) = old.partition(r => liveKeys((r.path, r.size, r.modificationTime)))
    val added = current.filterNot { case (_, r) => oldKeys((r.path, r.size, r.modificationTime)) }
    if (added.isEmpty && removed.isEmpty && newPartitions.isEmpty) {
      return Staged(0L, 0L, noop = true, meta, replace = false, None, manifest = true, None)
    }

    // the sketch store cached for the metadata on disk patches into the
    // committed one when it was loaded from the files on disk: the
    // cached rows of the same metadata have the old rows' keys
    val prior = for {
      m <- Metastore.cached(dirs.indexDir.toString) if m == meta
      rows <- IndexFilesTable.cached(dirs.files, m)
      if rows.size == old.size && rows.forall(r => oldKeys((r.path, r.size, r.modificationTime)))
      store <- SketchStore.cached(dirs.sketches, m)
    } yield store
    // with removals the files table is staged whole: the pass writes the
    // kept rows with its own (one part when it runs on the driver). A
    // path rewritten in place is in `removed` too, so its old sketch
    // rows go with the part files they sit in.
    val replace = removed.nonEmpty
    val removedPaths = removed.iterator.map(r => SketchStore.normalizePath(r.path)).toSet
    val wholeKept = if (replace) Some(kept) else None
    val ((deltaRows, committed), sketchDrop) = Parallel.inParallel(
      indexDelta(spark, conf, meta, reader, dirs, added, wholeKept) { delta =>
        val summary = StatisticsBuilder.summarizeRows(kept).merge(delta)
        stageCommitFiles(metastore, dirs, meta.copy(
          dataSchema = summary.dataSchema.getOrElse(meta.dataSchema),
          partitionValues = meta.partitionValues ++ newPartitions,
          fileCount = summary.fileCount,
          totalBytes = summary.totalBytes))
      },
      StatisticsBuilder.stageSketchRemovals(dirs.sketches, removedPaths, dirs.sketchTmp, hconf))
    Staged(added.size.toLong, removed.size.toLong, noop = false, committed, replace,
      Some(sketchDrop), manifest = true, Some(HandOver(
        deltaRows.map(d => kept ++ d.map(_._1)), removedPaths,
        added.iterator.map { case (_, r) => SketchStore.normalizePath(r.path) }.toSet,
        deltaRows.map(_.flatMap(_._2)), prior)))
  }

  /** Distributed tier of [[refreshIndex]], after the distributed diff: the
    * stale-row semi-joins, the added files indexed by [[indexDelta]] and
    * the summaries run as Spark jobs over the index tables; the commit
    * files are staged last, from the settled summary. */
  private def stageDistributed(
      spark: SparkSession,
      conf: IndexConf,
      metastore: Metastore,
      meta: IndexMetadata,
      dirs: RefreshDirs,
      currentKeys: DataFrame,
      addedRefs: Seq[(Int, StatisticsBuilder.FileRef)],
      removedCount: Long,
      partitionValues: Seq[Seq[Option[String]]],
      manifest: Boolean): Staged = {
    import org.apache.spark.sql.functions.col
    val replace = removedCount > 0
    val added = addedRefs.map(_._2.path).distinct.size.toLong
    if (added == 0 && !replace) {
      return Staged(0L, 0L, noop = true, meta, replace, None, manifest, None)
    }
    val fs = dirs.sketches.getFileSystem(spark.sparkContext.hadoopConfiguration)

    // 1. Kept rows (semi-join against the live listing keys), then their
    //    sketch rows (semi-join against the kept paths). A path rewritten
    //    in place has a new key, so neither its old row nor its old
    //    sketches survive.
    if (replace) {
      spark.read.schema(IndexFilesTable.Schema).parquet(dirs.files.toString)
        .join(currentKeys, RefreshKey, "left_semi")
        .sort(col("partitionIdx"), col("path"))
        .write.mode("overwrite").parquet(dirs.filesTmp.toString)
      if (meta.sketchKind.isDefined && fs.exists(dirs.sketches)) {
        val keptKeys = spark.read.schema(IndexFilesTable.Schema).parquet(dirs.filesTmp.toString)
          .select(graft.functions.exprs.normalize_path(col("path")).as("file"))
        spark.read.schema(SketchStore.Schema).parquet(dirs.sketches.toString)
          .join(keptKeys, Seq("file"), "left_semi")
          .sort(col("file"), col("column"))
          .write.mode("overwrite").parquet(dirs.sketchTmp.toString)
      }
    }
    // 2. The pass over the added files, appended beside them.
    val (_, delta) =
      indexDelta(spark, conf, meta, passReader(spark, conf, meta), dirs, addedRefs, None)(identity)
    // 3. Metadata. Append-only refreshes compose it incrementally (schema
    //    only ever widens — exact, since nothing was removed; a 1-file
    //    append must never re-aggregate the whole 10^6-row files table).
    //    With removals the composition would DRIFT (a removed file's
    //    last-of-a-kind columns would linger in dataSchema forever), so
    //    the staged table, whole by now, is re-aggregated.
    val (fileCount, totalBytes, dataSchema) =
      if (replace) {
        val full = StatisticsBuilder.summarizeFilesTable(spark, dirs.filesTmp)
        (full.fileCount, full.totalBytes, full.dataSchema.getOrElse(meta.dataSchema))
      } else {
        (meta.fileCount + delta.fileCount, meta.totalBytes + delta.totalBytes,
          delta.dataSchema.map(SparkInternals.mergeSchemas(meta.dataSchema, _))
            .getOrElse(meta.dataSchema))
      }
    val committed = stageCommitFiles(metastore, dirs, meta.copy(dataSchema = dataSchema,
      partitionValues = partitionValues, fileCount = fileCount, totalBytes = totalBytes))
    Staged(added, removedCount, noop = false, committed, replace, None, manifest, None)
  }

  /** Indexes `added` (create's files, or a refresh's delta) into the
    * staging dirs: one stats pass, whose files-table rows (after `kept`,
    * the rows the caller stages beside them when the table is staged
    * whole) go to `files_tmp` and whose sketches go to `sketches_tmp`, in
    * as many part files as their bytes call for. `alongside` runs with
    * the pass's summary beside those writes. Returns the pass's rows when
    * it ran on the driver, and what `alongside` returned. */
  private def indexDelta[A](spark: SparkSession, conf: IndexConf, meta: IndexMetadata,
      reader: StatisticsBuilder.Reader, dirs: RefreshDirs,
      added: Seq[(Int, StatisticsBuilder.FileRef)], kept: Option[Seq[FileStatsRow]])(
      alongside: StatisticsBuilder.FileStatsSummary => A)
      : (Option[Seq[StatisticsBuilder.PassRow]], A) =
    if (added.isEmpty) {
      val hconf = spark.sparkContext.hadoopConfiguration
      val (_, a) = Parallel.inParallel(
        kept.foreach(k =>
          IndexFilesTable.write(dirs.filesTmp, k.sortWith(StatisticsBuilder.filesOrder), hconf)),
        alongside(StatisticsBuilder.FileStatsSummary.Empty))
      (Some(Nil), a)
    } else {
      val numParts =
        if (conf.numPartitions > 0) conf.numPartitions
        else math.min(spark.sparkContext.defaultParallelism * 3,
          spark.conf.get("spark.sql.shuffle.partitions", "200").toInt)
      StatisticsBuilder.withPass(spark, added, reader, numParts) { pass =>
        // first: a Spark pass materializes its rows here, and the
        // sketches' part count and the commit files need the summary
        val summary = pass.summarize
        val (_, (_, a)) = Parallel.inParallel(
          pass.writeFileStats(dirs.filesTmp, kept.getOrElse(Nil)),
          Parallel.inParallel(
            if (meta.sketchKind.isDefined) {
              pass.writeSketches(dirs.sketchTmp,
                StatisticsBuilder.sketchParts(spark, summary.sketchBytes))
            },
            alongside(summary)))
        (pass.driverRows, a)
      }
    }

  /** The stats pass's reader of the index `meta` describes. */
  private def passReader(spark: SparkSession, conf: IndexConf,
      meta: IndexMetadata): StatisticsBuilder.Reader =
    StatisticsBuilder.reader(spark, meta.indexSchema, meta.dataSchema, meta.sketchKind,
      conf.minMaxFallback, meta.source)

  /** Writes the commit files a swap renames in — `meta` as
    * `.metadata.json.tmp` and an empty `._SUCCESS.tmp` — side by side,
    * and returns `meta` as a load will parse it. */
  private def stageCommitFiles(metastore: Metastore, dirs: RefreshDirs,
      meta: IndexMetadata): IndexMetadata =
    Parallel.inParallel(metastore.stageMetadata(dirs.indexDir, meta),
      metastore.fs.create(dirs.successTmp, true).close())._1

  /** The swap (a refresh's, with `_SUCCESS` absent, and the end of
    * create): moves the staged tables, the dir manifest and the commit
    * files into place — deletes and renames only — then hands the
    * committed snapshot to the read caches. */
  private def commit(metastore: Metastore, dirs: RefreshDirs, st: Staged): Unit = {
    val fs = metastore.fs
    Metastore.cacheInvalidate(dirs.indexDir.toString)
    SketchStore.invalidate(dirs.sketches)
    IndexFilesTable.invalidate(dirs.files)
    install(fs, dirs.filesTmp, dirs.files, st.replace)
    install(fs, dirs.sketchTmp, dirs.sketches, st.replace && st.sketchDrop.isEmpty,
      st.sketchDrop.getOrElse(Nil))
    if (st.manifest) installManifest(fs, dirs)
    val metadata = new Path(dirs.indexDir, Metastore.MetadataFile)
    fs.delete(metadata, false)
    move(fs, dirs.metadataTmp, metadata)
    move(fs, dirs.successTmp, new Path(dirs.indexDir, Metastore.SuccessFile))
    st.handOver.foreach { h =>
      Metastore.cachePut(dirs.indexDir.toString, st.meta)
      h.rows.foreach(IndexFilesTable.handOver(dirs.files, st.meta, _))
      if (st.meta.sketchKind.isDefined) {
        SketchStore.handOver(dirs.sketches, st.meta,
          h.prior.getOrElse(new SketchStore(dirs.sketches, metastore.hadoopConf))
            .after(h.removed, h.delta, h.sketches))
      }
    }
  }

  private def move(fs: org.apache.hadoop.fs.FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to)) throw new java.io.IOException(s"could not rename $from to $to")

  /** Move a staged table into place: the whole dir when `replace` (or
    * when there is no live table yet); else the live part files named in
    * `drop` are deleted and the staged part files join the rest. A table
    * that was not staged keeps its live parts, less those in `drop`. */
  private def install(fs: org.apache.hadoop.fs.FileSystem, staged: Path, live: Path,
      replace: Boolean, drop: Seq[String] = Nil): Unit =
    if (replace || !fs.exists(live)) {
      if (fs.exists(staged)) {
        if (fs.exists(live)) fs.delete(live, true)
        fs.rename(staged, live)
      }
    } else {
      drop.foreach(n => fs.delete(new Path(live, n), false))
      if (fs.exists(staged)) {
        fs.listStatus(staged).map(_.getPath)
          .filter(p => !p.getName.startsWith("_") && !p.getName.startsWith("."))
          .foreach(p => fs.rename(p, new Path(live, p.getName)))
        fs.delete(staged, true)
      }
    }

  /** Stages the dir-mtime manifest `rows` of (dir, mtime, capturedAt) for
    * the next distributed refresh in `dirs_tmp`, which
    * [[installManifest]] moves into place. A manifest of no dir beyond
    * the `roots` can never skip one, so none is staged. Best effort: the
    * manifest is a cache, and without one a refresh walks every dir. */
  private def stageManifest(spark: SparkSession, dirs: RefreshDirs,
      rows: Seq[(String, Long, Long)], roots: Int): Unit =
    if (rows.size > roots) {
      try {
        import spark.implicits._
        rows.sortBy(_._1).toDF("dir", "mtime", "capturedAt")
          .coalesce(1).write.mode("overwrite").parquet(dirs.manifestTmp.toString)
      } catch { case _: Exception => () }
    }

  /** Replaces the stored dir manifest with the staged one, or drops it
    * when none was staged. Best effort, as [[stageManifest]]. */
  private def installManifest(fs: org.apache.hadoop.fs.FileSystem, dirs: RefreshDirs): Unit =
    try {
      fs.delete(dirs.manifest, true)
      if (fs.exists(dirs.manifestTmp)) fs.rename(dirs.manifestTmp, dirs.manifest)
      ()
    } catch { case _: Exception => () }

  /** Runs `body` with its Spark jobs under a job tag of their own (a tag
    * leaves any job group of the caller in place). If `body` throws, the
    * tagged jobs are cancelled and this waits (up to a minute) until
    * every task they started has ended, so no late task of an aborted
    * write recreates a staging dir after the caller's cleanup. */
  private def underJobTag[T](spark: SparkSession)(body: => T): T = {
    val sc = spark.sparkContext
    val tag = s"graft-index-${java.util.UUID.randomUUID()}"
    sc.addJobTag(tag)
    try body
    catch {
      case e: Throwable =>
        sc.cancelJobsWithTag(tag)
        val tracker = sc.statusTracker
        val deadline = System.nanoTime() + 60L * 1000L * 1000L * 1000L
        def running = tracker.getJobIdsForTag(tag).exists { id =>
          tracker.getJobInfo(id).exists { j =>
            j.status == org.apache.spark.JobExecutionStatus.RUNNING ||
              j.stageIds.exists(st => tracker.getStageInfo(st).exists(_.numActiveTasks > 0))
          }
        }
        while (running && System.nanoTime() < deadline) Thread.sleep(10)
        throw e
    } finally sc.removeJobTag(tag)
  }

  /** The distributed listing + diff tier of [[refreshIndex]]: a level-walk
    * over the table's directory tree — each level is one Spark job whose
    * tasks `listStatus` their directory slice, append file rows straight
    * to a scratch parquet table, and hand only the CHILD DIRECTORIES back
    * to the driver. Hive `k=v` segments are parsed and value-normalized
    * (cast round-trip through the partition type, so `k=01` and the
    * metadata's "1" can't fork a duplicate partition) on executors, and
    * the diff collects ONLY added refs — driver residency is O(dirs +
    * partitions + delta), never O(files). Tradeoff vs the driver tier:
    * block-location hints are not fetched for added files (one extra RPC
    * per file — the footer job re-derives locality from the read itself).
    * Returns (currentKeys frame backed by the scratch table, added refs,
    * removed count, the metadata's partition list with the added files'
    * new partitions appended, and the refreshed dir manifest when the
    * manifest tier is on); the caller drops the scratch table after the
    * staged writes. */
  private def distributedListingDiff(
      spark: SparkSession,
      roots: Seq[Path],
      meta: IndexMetadata,
      oldKeys: org.apache.spark.sql.DataFrame,
      keyCols: Seq[String],
      listingTmp: Path,
      indexDir: Path,
      conf: IndexConf)
      : (org.apache.spark.sql.DataFrame, Seq[(Int, StatisticsBuilder.FileRef)],
         Long, Seq[Seq[Option[String]]], Option[Seq[(String, Long, Long)]]) = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val hconf = spark.sparkContext.hadoopConfiguration
    // TWO filesystems: the TABLE's (probed dirs, walked roots) and the
    // INDEX dir's (scratch listing table, dir manifest — both live in
    // the metastore). They differ whenever the indexed table sits on a
    // remote scheme and the metastore is local (or vice versa) — using
    // one for the other throws "Wrong FS" (caught by MockFsRefreshSpec).
    val tfs = roots.head.getFileSystem(hconf)
    val ifs = indexDir.getFileSystem(hconf)
    val rootStrs = roots.map(r => r.getFileSystem(hconf).makeQualified(r).toString)
    if (ifs.exists(listingTmp)) ifs.delete(listingTmp, true) // crashed-run debris
    val confBc = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(hconf))

    // ---- dir-mtime manifest (see Metastore.DirsDir): probe every KNOWN
    // dir's current mtime in one distributed job and re-list only the
    // changed ones — rename-based writers (every Spark/Hadoop committer)
    // always bump the parent dir's mtime on add/remove, so an unchanged
    // (and slack-safe) mtime proves the stored rows for that dir are
    // current. First refresh / conf off / unreadable manifest -> full
    // walk (and the manifest gets (re)written after the mutation
    // commits, so an aborted refresh can never mark unindexed files as
    // captured).
    val dirsPath = new Path(indexDir, Metastore.DirsDir)
    val nowMs = System.currentTimeMillis()
    val slackMs = conf.refreshDirMtimeSlackMs
    val useManifest = manifestEnabled(conf, rootStrs)
    // fullWalk: the per-call reconciliation hatch — ignore the stored
    // manifest (walk everything, diff everything) but still REBUILD it
    // from the walk, so one forced pass heals the in-place-rewrite blind
    // spot and the tier resumes skipping afterwards.
    val manifest: Map[String, (Long, Long)] =
      if (!useManifest || conf.refreshFullWalk) Map.empty
      else try {
        if (!ifs.exists(dirsPath)) Map.empty
        else spark.read.schema("dir STRING, mtime BIGINT, capturedAt BIGINT")
          .parquet(dirsPath.toString).collect()
          .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      } catch { case _: Exception => Map.empty }
    // a manifest that tracks nothing beyond the roots (flat layouts)
    // cannot skip anything — the probed root always changes — so the
    // tier disengages entirely rather than paying its read/probe/rewrite
    val manifestActive = manifest.nonEmpty && rootStrs.forall(manifest.contains) &&
      manifest.size > rootStrs.size
    lastManifestStats = None

    var changedSeeds: Seq[String] = rootStrs
    var deletedDirs: Set[String] = Set.empty
    var unchangedDirs: Seq[String] = Nil
    // (dir -> (mtime, capturedAt)) rows for the NEW manifest; changed/new
    // dirs are stamped with this refresh's capture time
    val newManifest = scala.collection.mutable.HashMap.empty[String, (Long, Long)]
    if (manifestActive) {
      val keys = manifest.keys.toSeq.sorted
      val probeSlices = math.max(1,
        math.min(spark.sparkContext.defaultParallelism * 2, keys.size))
      val probed: Array[(String, Long, Boolean)] =
        spark.sparkContext.parallelize(keys, probeSlices).map { d =>
          try {
            val st = new Path(d).getFileSystem(confBc.value.value)
              .getFileStatus(new Path(d))
            (d, st.getModificationTime, true)
          } catch {
            case _: java.io.FileNotFoundException => (d, -1L, false)
          }
        }.collect()
      val changed = scala.collection.mutable.ArrayBuffer.empty[String]
      val unchanged = scala.collection.mutable.ArrayBuffer.empty[String]
      val deleted = scala.collection.mutable.ArrayBuffer.empty[String]
      probed.foreach { case (d, mt, exists) =>
        if (!exists) deleted += d
        else {
          val (oldMt, capAt) = manifest(d)
          // unchanged AND captured safely past the mtime tick -> skip;
          // anything else (moved mtime, capture inside the slack window,
          // a dir replaced by a file) re-lists. An mtime of 0 is never
          // trusted: synthetic directories (object stores) report 0 (or
          // a constant), which would read as "unchanged" forever — such
          // dirs always re-list, even under a forced-on manifest.
          if (mt > 0L && mt == oldMt && capAt > oldMt + slackMs) {
            unchanged += d
            newManifest(d) = (oldMt, capAt) // entry still vouched-for
          } else {
            changed += d
            newManifest(d) = (mt, nowMs)
          }
        }
      }
      changedSeeds = changed.toSeq
      deletedDirs = deleted.toSet
      unchangedDirs = unchanged.toSeq
      lastManifestStats = Some((probed.length.toLong, changed.size.toLong,
        deleted.size.toLong, unchanged.size.toLong))
    } else {
      // full walk: seed with the roots, stamped into the new manifest
      // with their current mtimes
      rootStrs.foreach { r =>
        try {
          val st = tfs.getFileStatus(new Path(r))
          newManifest(r) = (st.getModificationTime, nowMs)
        } catch { case _: Exception => }
      }
    }
    val manifestKnown = manifest.keySet

    // level-walk seeded with the dirs to (re-)list: files stream to the
    // scratch table, dirs come back (roots never nest, so each listed
    // path belongs to exactly one root). Under an active manifest the
    // walk descends ONLY into dirs the manifest does not know (new
    // subtrees) — known children were probed above.
    var dirs: Seq[String] = changedSeeds
    var depth = 0
    var maxDirRows = math.max(1L, changedSeeds.size.toLong)
    while (dirs.nonEmpty) {
      require(depth < 64, s"directory nesting beyond 64 levels under ${rootStrs.mkString(", ")}")
      val slices = math.max(1, math.min(spark.sparkContext.defaultParallelism * 2, dirs.size))
      val statSlices = math.max(slices, spark.sparkContext.defaultParallelism * 2)
      val allLocal = dirs.forall(_.startsWith("file:"))
      val level = (if (!allLocal) {
        // cluster filesystems: one listStatus per dir — HDFS/S3A return
        // size+mtime in bulk listing pages, so this IS the cheap path
        spark.sparkContext.parallelize(dirs, slices).flatMap { d =>
          val p = new Path(d)
          p.getFileSystem(confBc.value.value).listStatus(p).iterator
            .filter { st =>
              val n = st.getPath.getName
              !n.startsWith("_") && !n.startsWith(".") // Spark's hidden-file rule
            }
            .map(st => (st.isDirectory, st.getPath.toString, st.getLen,
              st.getModificationTime,
              if (st.getBlockSize > 0) st.getBlockSize else FileEntry.DefaultBlockSize))
        }
      } else {
        // file:// — RawLocalFileSystem.listStatus costs SEVERAL stat
        // syscalls per child inside ONE task, so a flat million-file dir
        // pays ~12 s serially. Split it the way a cluster FS does
        // natively: a names-only readdir per dir (no stat), shuffled
        // across executors, then ONE statx per file in parallel.
        // qualified local paths are exactly "file:" + POSIX path (empty
        // authority), so stripPrefix round-trips spaces/special chars
        // that java.net.URI parsing would reject. The name shuffle runs
        // as a DATASET exchange (Tungsten rows), not an RDD repartition,
        // so no generic serializer ever touches the records.
        spark.sparkContext.parallelize(dirs, slices).flatMap { d =>
          val dirFile = new java.io.File(d.stripPrefix("file:"))
          // a root that is itself a data FILE (globs match files) emits
          // itself — File.list() is null there, but the old listStatus
          // path returned the file, and dropping it would mis-diff it
          // as removed
          if (dirFile.isFile) Iterator.single(d)
          else Option(dirFile.list()).iterator.flatten
            .filter(n => !n.startsWith("_") && !n.startsWith("."))
            .map(n => d + "/" + n)
        }.toDF("p").repartition(statSlices).as[String].mapPartitions { it =>
          it.flatMap { full =>
            val f = java.nio.file.Paths.get(full.stripPrefix("file:"))
            try {
              val a = java.nio.file.Files.readAttributes(
                f, classOf[java.nio.file.attribute.BasicFileAttributes])
              Iterator.single((a.isDirectory, full, a.size(),
                a.lastModifiedTime().toMillis, FileEntry.DefaultBlockSize))
            } catch {
              // deleted between readdir and stat — same as listStatus
              // racing a concurrent writer: skip
              case _: java.io.IOException => Iterator.empty
            }
          }
        }.rdd
      }).toDF("isDir", "path", "size", "modificationTime", "blockSize")
        .persist()
      level.filter(!col("isDir") && col("size") > 0).drop("isDir")
        .write.mode("append").parquet(listingTmp.toString)
      val childDirs = level.filter(col("isDir"))
        .select(col("path"), col("modificationTime"))
        .as[(String, Long)].collect().toSeq
      childDirs.foreach { case (d, mt) =>
        if (!newManifest.contains(d)) newManifest(d) = (mt, nowMs)
      }
      dirs =
        if (manifestActive) childDirs.collect {
          case (d, _) if !manifestKnown.contains(d) => d
        }
        else childDirs.map(_._1)
      maxDirRows = math.max(maxDirRows, childDirs.size.toLong)
      level.unpersist()
      depth += 1
    }
    // an all-empty walk still needs a readable (empty) scratch table
    if (!ifs.exists(listingTmp)) {
      Seq.empty[(String, Long, Long, Long)]
        .toDF("path", "size", "modificationTime", "blockSize")
        .write.parquet(listingTmp.toString)
    }

    // executor-side partition parse: k=v segments of the path relative to
    // the root, normalized through the partition type's cast round-trip;
    // a name/depth mismatch = the partition layout changed -> fail fast
    val fieldNames = meta.partitionSchema.fieldNames.toSeq
    val fieldTypeJson = meta.partitionSchema.fields.map(_.dataType.json).toSeq
    val rawListing = spark.read
      .schema("path STRING, size BIGINT, modificationTime BIGINT, blockSize BIGINT")
      .parquet(listingTmp.toString)
    // each file parses relative to ITS root (prefix match is unambiguous:
    // resolveTableRoots rejects nested roots); a root that is itself a
    // data FILE matches by equality and parses as depth-0 (unpartitioned)
    val listing = rootStrs.map { rootB =>
      val parseVals = (c: org.apache.spark.sql.Column) =>
        graft.functions.exprs.parse_partition_values(c, rootB, fieldNames, fieldTypeJson)
      rawListing
        .filter(col("path") === rootB || col("path").startsWith(rootB + "/"))
        .withColumn("partVals", parseVals(col("path")))
    }.reduce(_.unionAll(_))

    // Under an active manifest the diff runs over the RE-LISTED SCOPE
    // only: stored rows under changed/deleted dirs (plus changed
    // file-roots) participate; rows under unchanged dirs are current by
    // the mtime proof and flow straight into currentKeys. Without a
    // manifest the scope is everything (oldScoped == oldKeys).
    import org.apache.spark.sql.functions.{broadcast, lit, regexp_replace, when}
    val (oldScoped, unchangedKeys) =
      if (!manifestActive || unchangedDirs.isEmpty) (oldKeys, None)
      // ^ nothing skippable (e.g. a flat single-dir layout whose root
      //   always changes): the scope-split joins would partition the
      //   stored rows into (everything, nothing) — pure overhead
      else {
        val scope = (changedSeeds ++ deletedDirs).distinct
        val scopeDf = broadcast(scope.toDF("__d"))
        // a root that is itself a FILE scopes by its own path (it has no
        // tracked parent dir); everything else by its parent dir
        val dCol = when(col("path").isin(rootStrs: _*), col("path"))
          .otherwise(regexp_replace(col("path"), "/[^/]+$", ""))
        val oldWith = oldKeys.withColumn("__d", dCol)
        (oldWith.join(scopeDf, Seq("__d"), "left_semi").drop("__d"),
          Some(oldWith.join(scopeDf, Seq("__d"), "left_anti").drop("__d")
            .select(keyCols.map(col): _*)))
      }

    // ONE full-outer pass computes both sides of the diff: added rows
    // are collected (O(delta)), the removed side is reduced to its count
    // INSIDE the same action via Observation — no second O(all files)
    // anti-join, no second read of the scratch table.
    val obs = org.apache.spark.sql.Observation(
      "graft-refresh-diff-" + java.util.UUID.randomUUID())
    val joined = listing.withColumn("__live", lit(1))
      .join(oldScoped.withColumn("__known", lit(1)), keyCols, "full_outer")
    val addedRows = joined
      .observe(obs,
        org.apache.spark.sql.functions.sum(org.apache.spark.sql.functions
          .when(col("__live").isNull, lit(1L)).otherwise(lit(0L))).as("rc"))
      .filter(col("__known").isNull)
      .collect()
    val metrics = obs.get
    val removedCount = Option(metrics.getOrElse("rc", null))
      .map(_.asInstanceOf[Long]).getOrElse(0L)

    // new partition dirs append (in NewPartitionOrder) — derived from
    // the ADDED rows only: existing partitions are already in the
    // metadata, and a new partition dir implies at least one added file,
    // so the full-listing distinct the old shape ran is pure overhead
    val partValues = scala.collection.mutable.ArrayBuffer(meta.partitionValues: _*)
    val idxByValues = scala.collection.mutable.HashMap(meta.partitionValues.zipWithIndex: _*)
    val tuples: Seq[Seq[Option[String]]] = addedRows.toSeq
      .map(_.getAs[scala.collection.Seq[String]]("partVals").toSeq.map(Option(_)))
      .distinct
      .sorted(NewPartitionOrder)
    tuples.foreach { t =>
      idxByValues.getOrElseUpdate(t, { partValues += t; partValues.size - 1 })
    }

    val addedRefs = addedRows.toSeq.map { r =>
      val vals: Seq[Option[String]] =
        r.getAs[scala.collection.Seq[String]]("partVals").toSeq.map(Option(_))
      idxByValues(vals) -> StatisticsBuilder.FileRef(
        r.getAs[String]("path"), r.getAs[Long]("size"),
        r.getAs[Long]("modificationTime"), r.getAs[Long]("blockSize"))
    }
    lastListingResidency = Some((maxDirRows, tuples.size.toLong, addedRefs.size.toLong))
    // the refreshed (dir, mtime, capturedAt) manifest for the NEXT
    // refresh. The caller installs it only in the swap (or when there is
    // nothing to mutate) — earlier would let an aborted refresh mark
    // unindexed files as captured.
    val refreshedManifest =
      if (useManifest) Some(newManifest.toSeq.map { case (d, (m, c)) => (d, m, c) }) else None
    val currentKeys = unchangedKeys match {
      case Some(uk) => uk.unionAll(listing.select(keyCols.map(col): _*))
      case None => listing.select(keyCols.map(col): _*)
    }
    (currentKeys, addedRefs, removedCount, partValues.toSeq, refreshedManifest)
  }

  def existsIndex(spark: SparkSession, path: String, dataspace: String): Boolean =
    existsIndex(spark, Seq(path), dataspace)

  def existsIndex(spark: SparkSession, paths: Seq[String], dataspace: String): Boolean = {
    val metastore = Metastore(spark)
    try metastore.exists(dataspace, resolveTableRoots(spark, paths))
    catch { case _: Exception => false }
  }

  def deleteIndex(spark: SparkSession, path: String, dataspace: String): Unit =
    deleteIndex(spark, Seq(path), dataspace)

  def deleteIndex(spark: SparkSession, paths: Seq[String], dataspace: String): Unit = {
    val metastore = Metastore(spark)
    val roots = resolveTableRoots(spark, paths)
    val indexDir = metastore.location(dataspace, roots)
    // Sibling lock (shared with create/refresh): deleting an index out
    // from under a live refresh would leave a torn, _SUCCESS-less dir.
    graft.ops.MaintenanceLock.withSiblingLock(metastore.fs, indexDir) {
      SketchStore.invalidate(new Path(indexDir, Metastore.SketchDir))
      IndexFilesTable.invalidate(new Path(indexDir, Metastore.FilesDir))
      metastore.delete(dataspace, roots)
    }
  }

  /** Load the indexed relation as a DataFrame (reference flow §3.2 step 1).
    * `options`: `spark.sql.index.*` keys override the session conf for
    * this load; the rest are handed to the underlying relation. The data
    * format comes from the index metadata; when `expectedSource` is given
    * (the fluent API's terminal method), a mismatch fails with a clear
    * error instead of mis-decoding files. */
  def load(
      spark: SparkSession,
      path: String,
      dataspace: String,
      options: Map[String, String] = Map.empty,
      expectedSource: Option[String] = None): DataFrame =
    load(spark, Seq(path), dataspace, options, expectedSource)

  /** Multi-root/glob load: the resolved root set keys the metastore
    * entry exactly as at create time. */
  def load(
      spark: SparkSession,
      paths: Seq[String],
      dataspace: String,
      options: Map[String, String],
      expectedSource: Option[String]): DataFrame = {
    val conf = IndexConf(spark, options)
    val metastore = new Metastore(spark, conf)
    val roots = resolveTableRoots(spark, paths)
    if (conf.createIfNotExists && !metastore.exists(dataspace, roots)) {
      createIndex(spark, paths, dataspace, SaveMode.Overwrite, Nil, indexAll = true,
        options, expectedSource.getOrElse(Sources.Parquet))
    }
    val (indexDir, meta) = metastore.load(dataspace, roots)
    expectedSource.map(Sources.normalize).foreach { s =>
      require(s == meta.source,
        s"index at ${roots.mkString(", ")} was built over ${meta.source} data, not $s; " +
          s"load it with format(\"${meta.source}\") / .${meta.source}(path)")
    }
    val fileIndex = new GraftFileIndex(spark, indexDir, meta, conf)
    if (conf.eagerLoading && meta.sketchKind.isDefined) {
      SketchStore.forDir(new Path(indexDir, Metastore.SketchDir), meta,
        spark.sparkContext.hadoopConfiguration).preload()
    }
    val relationOptions = options.filterNot(_._1.startsWith("spark.sql.index."))
    SparkInternals.fsRelation(
      spark, fileIndex, meta.partitionSchema, meta.dataSchema, relationOptions,
      meta.source)
  }
}
