package graft.index

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ColumnChunkMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SparkInternals
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

/** Distributed index-statistics collection (replaces the reference's
  * ParquetStatisticsRDD full-data scan — SURVEY.md §7.1 deltas #2/#3):
  *
  *   1. min/max/null per row group come from Parquet footers only — a
  *      metadata-read job over the file list (no data pass);
  *   2. membership sketches (when enabled) are built with ONE declarative
  *      DataFrame aggregation: scan indexed columns, group by
  *      input_file_name(), aggregate with [[SketchAgg]] — map-side partial
  *      sketches, tiny shuffle (one serialized sketch per file × column).
  *
  * Both steps scale with the cluster: footers job = one cheap task per file
  * slice; sketch job = a normal whole-stage-codegen parquet scan.
  */
object StatisticsBuilder {

  /** Is a footer's Double/Float min/max trustworthy given its writer
    * (`created_by`)? Only NaN-POISONING writers qualify: parquet-mr's
    * sticky Math.min/max fold turns both bounds to NaN the moment a NaN
    * value arrives, so a surviving non-NaN bound pair proves the chunk
    * holds no NaN (FpNanFooterSpec pins that behavior against the
    * bundled writer). Spec-recommended NaN-SKIPPING writers
    * (arrow/parquet-cpp) and unknown writers leave no trace of NaN
    * presence — their bounds exclude a value Spark orders ABOVE max, so
    * they degrade to the full-scan fallback instead. */
  def fpFooterTrusted(createdBy: Option[String]): Boolean =
    createdBy.exists(_.startsWith("parquet-mr"))

  /** Serializable file handle shipped to the footer job. `hosts` carries
    * the file's block hosts for task locality (reference
    * ParquetStatisticsRDD.getPreferredLocations, :100-121). */
  case class FileRef(
      path: String,
      size: Long,
      modificationTime: Long,
      blockSize: Long = FileEntry.DefaultBlockSize,
      locationsJson: String = "[]",
      hosts: Seq[String] = Nil)

  /** Per-file footer read result: the file's own Spark schema (JSON, field
    * metadata preserved) + per-row-group statistics. */
  case class FileFooter(schemaJson: String, blocks: Seq[BlockStats]) {
    def rowCount: Long = blocks.map(_.rowCount).sum
  }

  /** One indexed field as shipped to the footer-reading executors:
    * `(name, dataTypeJson, dom, base, rest)` where dom is
    * [[IndexMetadata.domainOf]]'s code, `base` the dotted path of the
    * COLLECTION column for member domains (= name for plain
    * element/key domains; the array prefix for struct leaves; the map
    * column for value domains) and `rest` the leaf path INSIDE the
    * element struct ("" except for array-of-struct leaves). */
  private[index] def domainSpec(f: StructField): (String, String, Int, String, String) = {
    val dom = IndexMetadata.domainOf(f)
    val (base, rest) = dom match {
      case 1 =>
        IndexMetadata.arrayPrefixOf(f) match {
          case Some(prefix) => (prefix, f.name.drop(prefix.length + 1))
          case None => (f.name, "")
        }
      case 3 => (IndexMetadata.mapValueBase(f.name), "")
      case _ => (f.name, "")
    }
    (f.name, f.dataType.json, dom, base, rest)
  }

  /** Driver-side summary of the footer job (everything metadata.json
    * needs; per-file rows live only in the written files table). */
  case class FileStatsSummary(
      dataSchema: Option[StructType],
      fileCount: Long,
      totalBytes: Long,
      maxFileRows: Long)

  /** The footer job's rows: per-row-group statistics for `indexSchema`
    * columns plus each file's schema, one [[FileStatsRow]] per ref, read
    * on executors. Tasks prefer the hosts holding the most bytes of their
    * slice. */
  private def footerRows(
      spark: SparkSession,
      refs: Seq[(Int, FileRef)],
      indexSchema: StructType,
      numPartitions: Int,
      source: String): org.apache.spark.rdd.RDD[FileStatsRow] = {
    val src = Sources.normalize(source)
    val confBc = spark.sparkContext.broadcast(
      new SerializableConfiguration(spark.sparkContext.hadoopConfiguration))
    val fields = indexSchema.fields.map(domainSpec)
    val slices = math.max(1, math.min(numPartitions, refs.size))
    val perSlice = (refs.size + slices - 1) / slices
    val grouped: Seq[(Seq[(Int, FileRef)], Seq[String])] =
      refs.grouped(perSlice).toSeq.map { g =>
        val byHost = g.flatMap { case (_, r) => r.hosts.map(_ -> r.size) }
          .groupBy(_._1).view.mapValues(_.map(_._2).sum)
        val top = byHost.toSeq.sortBy(-_._2).take(3).map(_._1)
        (g, top)
      }
    spark.sparkContext
      .makeRDD(grouped)
      .flatMap { group =>
        val types = fields.map { case (n, dj, dom, base, rest) =>
          (n, DataType.fromJson(dj), dom, base, rest) }
        group.iterator.map { case (partitionIdx, ref) =>
          val footer =
            if (src == Sources.Orc) readOrcBlocks(ref.path, types, confBc.value.value)
            else readFooterBlocks(ref.path, types, confBc.value.value)
          FileStatsRow(partitionIdx, ref.path, ref.size, ref.modificationTime,
            ref.blockSize, ref.locationsJson, footer.schemaJson,
            IndexMetadata.blocksToJsonString(footer.blocks), footer.rowCount)
        }
      }
  }

  /** The footer job, with its rows written STRAIGHT from the executors to
    * the `files` parquet table — per-file stats never materialize on the
    * driver, so index builds scale to millions of files. Returns the
    * merged data schema + counts. */
  def writeFileStats(
      spark: SparkSession,
      refs: Seq[(Int, FileRef)],
      indexSchema: StructType,
      numPartitions: Int,
      filesDir: Path,
      mode: String = "overwrite",
      source: String = Sources.Parquet,
      summarizeDelta: Boolean = false): FileStatsSummary = {
    if (refs.isEmpty) return FileStatsSummary(None, 0L, 0L, 0L)
    val frame = spark.createDataFrame(footerRows(spark, refs, indexSchema, numPartitions, source))
    if (!summarizeDelta) {
      frame.sortWithinPartitions("partitionIdx", "path")
        .write.mode(mode).parquet(filesDir.toString)
      summarizeFilesTable(spark, filesDir)
    } else {
      // delta-scoped summary: counts/schema over THESE refs only, so a
      // refresh never re-aggregates the whole table (O(all files), with
      // the schemaJson blob column read row by row) for a small append —
      // the caller composes the global summary incrementally from the
      // previous metadata. Persist so the footer job runs once (the
      // summary aggregation would otherwise recompute the RDD and read
      // every delta footer a second time).
      frame.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        frame.sortWithinPartitions("partitionIdx", "path")
          .write.mode(mode).parquet(filesDir.toString)
        summarizeFrame(frame)
      } finally {
        frame.unpersist()
        ()
      }
    }
  }

  /** The footer job with its rows collected: for a delta below the
    * distributed threshold, which the driver holds anyway. */
  def collectFileStats(
      spark: SparkSession,
      refs: Seq[(Int, FileRef)],
      indexSchema: StructType,
      numPartitions: Int,
      source: String): Seq[FileStatsRow] =
    if (refs.isEmpty) Nil
    else footerRows(spark, refs, indexSchema, numPartitions, source).collect().toSeq

  /** Does the frame resolve `name` — as a top-level column, or (for a
    * dotted index path) through nested struct resolution? Guards the
    * add-missing-as-null folds: a flat `withColumn("a.b", null)` would
    * SHADOW a real nested a.b. */
  private def hasColumn(d: DataFrame, name: String): Boolean =
    d.columns.exists(_.equalsIgnoreCase(name)) ||
      (name.contains(".") && scala.util.Try(d(name)).isSuccess)

  /** Summary + schema merge over the whole files table (columnar reads of
    * three small columns; distinct schemas are few even at 1M files). */
  def summarizeFilesTable(spark: SparkSession, filesDir: Path): FileStatsSummary =
    summarizeFrame(spark.read.schema(IndexFilesTable.Schema).parquet(filesDir.toString))

  /** The same summary over an arbitrary FileStatsRow frame (the whole
    * table at create, the delta slice at refresh). */
  def summarizeFrame(back: org.apache.spark.sql.DataFrame): FileStatsSummary = {
    val agg = back.agg(
      count(lit(1)), sum(col("size")), max(col("rowCount"))).head
    val schemaJsons = back.groupBy(col("schemaJson"))
      .agg(min(col("path")).as("firstPath"))
      .orderBy(col("firstPath"))
      .collect().map(_.getString(0))
    // sum/max are NULL over an empty table (all files removed) — degrade to 0.
    FileStatsSummary(mergeSchemaJsons(schemaJsons.toSeq), agg.getLong(0),
      if (agg.isNullAt(1)) 0L else agg.getLong(1),
      if (agg.isNullAt(2)) 0L else agg.getLong(2))
  }

  /** The same summary over rows the driver holds: the distinct schemas
    * merge in the order of their first path (Spark's string order), as
    * in [[summarizeFrame]]. */
  def summarizeRows(rows: Seq[FileStatsRow]): FileStatsSummary = {
    val firstPath = scala.collection.mutable.HashMap.empty[String, String]
    rows.foreach { r =>
      if (firstPath.get(r.schemaJson).forall(Canon.compare(r.path, _) < 0)) {
        firstPath(r.schemaJson) = r.path
      }
    }
    val schemaJsons = firstPath.toSeq.sortWith((a, b) => Canon.compare(a._2, b._2) < 0).map(_._1)
    FileStatsSummary(mergeSchemaJsons(schemaJsons), rows.size.toLong,
      rows.iterator.map(_.size).sum,
      if (rows.isEmpty) 0L else rows.iterator.map(_.rowCount).max)
  }

  private def mergeSchemaJsons(jsons: Seq[String]): Option[StructType] =
    jsons.map(j => DataType.fromJson(j).asInstanceOf[StructType])
      .reduceOption(SparkInternals.mergeSchemas)

  /** Executor-side: one footer read → schema + BlockStats per row group. */
  private def readFooterBlocks(
      path: String,
      indexed: Array[(String, DataType, Int, String, String)],
      conf: org.apache.hadoop.conf.Configuration): FileFooter = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(path), conf))
    try {
      val fileMeta = reader.getFooter.getFileMetaData
      val schema = SparkInternals.footerSparkSchema(
        fileMeta.getKeyValueMetaData, fileMeta.getSchema)
      val msgType = fileMeta.getSchema
      // FP footer bounds are trusted only from NaN-POISONING writers
      // (parquet-mr's sticky Math.min/max fold turns min/max to NaN the
      // moment a NaN arrives, so surviving non-NaN bounds PROVE NaN
      // absence — pinned empirically by FpNanFooterSpec against the
      // bundled writer). Spec-recommended NaN-SKIPPING writers
      // (arrow/parquet-cpp) leave no trace of NaN presence: their max
      // excludes a value Spark orders ABOVE it, unsound both for
      // max-side pruning and for metadata-only answers — those degrade
      // to None and the full-scan fallback computes exact NaN-aware
      // bounds from data, the same contract ORC FP always uses.
      val fpNanPoisoning = StatisticsBuilder.fpFooterTrusted(
        Option(fileMeta.getCreatedBy))
      val blocks = reader.getFooter.getBlocks.asScala.toSeq.map { block =>
        // nested leaves join on the dot-string path; a leaf under a
        // REPEATED group counts values (not rows), so its stats can't
        // answer row predicates — require maxRepetitionLevel == 0.
        // ELEMENT-DOMAIN fields are the deliberate exception: they bind
        // the repeated leaf under their list column on purpose, and the
        // fold only ever consults them for element membership.
        val byName = block.getColumns.asScala
          .filter { c =>
            c.getPath.size == 1 ||
              msgType.getColumnDescription(c.getPath.toArray).getMaxRepetitionLevel == 0
          }
          .map(c => c.getPath.toDotString -> c)
          .toMap
        lazy val byNameAll = block.getColumns.asScala
          .map(c => c.getPath.toDotString -> c).toMap
        val cols = indexed.flatMap { case (name, dt, dom, base, rest) =>
          val chunk = dom match {
            case 0 => byName.collectFirst { case (n, c) if n.equalsIgnoreCase(name) => c }
            case 1 =>
              // list-encoding leaf paths: modern 3-level, legacy 2-level;
              // a struct-leaf element appends its path INSIDE the element
              // (base.list.element.rest)
              val tail = if (rest.isEmpty) "" else "." + rest
              val suffixes = Seq(".list.element", ".list.item", ".array",
                ".bag.array", ".bag.array_element")
              byNameAll.collectFirst {
                case (n, c) if suffixes.exists(s => n.equalsIgnoreCase(base + s + tail)) => c
              }
            case 2 =>
              // map-encoding KEY leaf paths: modern 3-level, legacy MAP_KEY_VALUE
              val suffixes = Seq(".key_value.key", ".map.key")
              byNameAll.collectFirst {
                case (n, c) if suffixes.exists(s => n.equalsIgnoreCase(base + s)) => c
              }
            case _ =>
              // map-encoding VALUE leaf paths
              val suffixes = Seq(".key_value.value", ".map.value")
              byNameAll.collectFirst {
                case (n, c) if suffixes.exists(s => n.equalsIgnoreCase(base + s)) => c
              }
          }
          chunk.map { c =>
            val cs = chunkStats(c, dt, fpNanPoisoning)
            // element/key null+value counts are NOT row counts: suppress
            // the null count so row-domain null reasoning degrades to
            // unknown
            name -> (if (dom != 0) cs.copy(nullCount = None) else cs)
          }
        }.toMap
        BlockStats(block.getRowCount, cols)
      }
      FileFooter(schema.json, blocks)
    } finally reader.close()
  }

  /** Column-chunk footer statistics → canonical ColumnStats. Unusable or
    * absent stats (e.g. INT96 timestamps) degrade to all-None, which the
    * fold treats as may-contain. */
  private def chunkStats(
      c: ColumnChunkMetaData, dt: DataType, fpNanPoisoning: Boolean): ColumnStats = {
    val st = c.getStatistics
    if (st == null) return ColumnStats(None, None, None)
    val nullCount = if (st.isNumNullsSet) Some(st.getNumNulls) else None
    if (!st.hasNonNullValue) return ColumnStats(None, None, nullCount)

    val prim = c.getPrimitiveType
    def tsScale: Option[Long => Long] = prim.getLogicalTypeAnnotation match {
      case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation => t.getUnit match {
        case TimeUnit.MILLIS => Some((v: Long) => v * 1000L)
        case TimeUnit.MICROS => Some(identity[Long] _)
        case TimeUnit.NANOS => Some((v: Long) => Math.floorDiv(v, 1000L))
      }
      case _ => None
    }

    def decScale: Option[Int] = prim.getLogicalTypeAnnotation match {
      case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation => Some(d.getScale)
      case _ => None
    }

    val minmax: Option[(Any, Any)] = (dt, prim.getPrimitiveTypeName) match {
      case (dec: DecimalType, PrimitiveTypeName.INT32 | PrimitiveTypeName.INT64) =>
        // int-backed decimal stats are the unscaled values — exactly the
        // canonical domain, provided the footer's scale matches the
        // column's. Binary/fixed-len decimals degrade to None (the
        // full-scan fallback patches them from data).
        decScale.filter(_ == dec.scale).map { _ =>
          (st.genericGetMin.asInstanceOf[Number].longValue,
            st.genericGetMax.asInstanceOf[Number].longValue)
        }
      case (IntegerType, PrimitiveTypeName.INT32) | (DateType, PrimitiveTypeName.INT32) =>
        Some((st.genericGetMin.asInstanceOf[Number].longValue,
          st.genericGetMax.asInstanceOf[Number].longValue))
      case (LongType, PrimitiveTypeName.INT64) =>
        Some((st.genericGetMin.asInstanceOf[Number].longValue,
          st.genericGetMax.asInstanceOf[Number].longValue))
      case (DoubleType, PrimitiveTypeName.DOUBLE) if fpNanPoisoning =>
        // parquet-mr's Math.min/max fold poisons FP stats to NaN when any
        // NaN is present — so a NaN-free bound pair from such a writer
        // PROVES NaN absence (exact attained values, sound for answers
        // AND for max-side pruning under Spark's NaN-largest order).
        // Poisoned stats degrade to unknown and the full-scan fallback
        // supplies exact NaN-aware bounds. Non-poisoning writers never
        // reach here (fpNanPoisoning gate — see readFooterBlocks).
        val mn = st.genericGetMin.asInstanceOf[java.lang.Double].doubleValue
        val mx = st.genericGetMax.asInstanceOf[java.lang.Double].doubleValue
        if (mn.isNaN || mx.isNaN) None
        else Some((Canon.sortableDouble(mn), Canon.sortableDouble(mx)))
      case (FloatType, PrimitiveTypeName.FLOAT) if fpNanPoisoning =>
        val mn = st.genericGetMin.asInstanceOf[java.lang.Float].floatValue
        val mx = st.genericGetMax.asInstanceOf[java.lang.Float].floatValue
        if (mn.isNaN || mx.isNaN) None
        else Some((Canon.sortableFloat(mn), Canon.sortableFloat(mx)))
      case (TimestampType, PrimitiveTypeName.INT64) | (TimestampNTZType, PrimitiveTypeName.INT64) =>
        tsScale.map { f =>
          (f(st.genericGetMin.asInstanceOf[Number].longValue),
            f(st.genericGetMax.asInstanceOf[Number].longValue))
        }
      case (StringType, PrimitiveTypeName.BINARY) =>
        // parquet-mr truncated binary stats remain valid bounds; unsigned
        // lexicographic order matches UTF8String.binaryCompare. A truncated
        // bound can split a multi-byte sequence: lossy decode would replace
        // it with U+FFFD (whose UTF-8 bytes can sort above the original
        // prefix → unsound pruning), so only accept bounds whose decode
        // round-trips to the identical bytes; otherwise degrade to unknown.
        val minBytes = st.getMinBytes
        val maxBytes = st.getMaxBytes
        val mn = new String(minBytes, java.nio.charset.StandardCharsets.UTF_8)
        val mx = new String(maxBytes, java.nio.charset.StandardCharsets.UTF_8)
        val roundTrips =
          java.util.Arrays.equals(mn.getBytes(java.nio.charset.StandardCharsets.UTF_8), minBytes) &&
            java.util.Arrays.equals(mx.getBytes(java.nio.charset.StandardCharsets.UTF_8), maxBytes)
        if (roundTrips) Some((mn, mx)) else None
      case _ => None // INT96 and any physical/logical mismatch: unknown
    }
    minmax match {
      case Some((mn, mx)) => ColumnStats(Some(mn), Some(mx), nullCount)
      case None => ColumnStats(None, None, nullCount)
    }
  }

  /** Executor-side ORC tail read → schema + per-STRIPE BlockStats (the
    * stripe is ORC's row-group analog; same metadata-only cost as the
    * parquet footer read). Column statistics come from the stripe
    * statistics section; the stats array is indexed by ORC column id
    * (root = 0, top-level fields follow in order). */
  private def readOrcBlocks(
      path: String,
      indexed: Array[(String, DataType, Int, String, String)],
      conf: org.apache.hadoop.conf.Configuration): FileFooter = {
    val reader = org.apache.orc.OrcFile.createReader(
      new Path(path), org.apache.orc.OrcFile.readerOptions(conf))
    try {
      val td = reader.getSchema
      val schema = SparkInternals.orcSparkSchema(td)
      // dotted paths through STRUCT children only — array/map leaves count
      // values, not rows, so they never carry row-predicate stats
      def walkIds(prefix: String,
          t: org.apache.orc.TypeDescription): Seq[(String, Int)] =
        if (t.getCategory != org.apache.orc.TypeDescription.Category.STRUCT) Nil
        else t.getFieldNames.asScala.toSeq.zip(t.getChildren.asScala).flatMap {
          case (n, child) =>
            val path = if (prefix.isEmpty) n else s"$prefix.$n"
            (path.toLowerCase -> child.getId) +: walkIds(path, child)
        }
      val idOf: Map[String, Int] = walkIds("", td).toMap
      // LIST columns: the ELEMENT child's stats (element-domain fields)
      def walkElemIds(prefix: String,
          t: org.apache.orc.TypeDescription): Seq[(String, Int)] =
        if (t.getCategory != org.apache.orc.TypeDescription.Category.STRUCT) Nil
        else t.getFieldNames.asScala.toSeq.zip(t.getChildren.asScala).flatMap {
          case (n, child) =>
            val path = if (prefix.isEmpty) n else s"$prefix.$n"
            val here =
              if (child.getCategory == org.apache.orc.TypeDescription.Category.LIST)
                Seq(path.toLowerCase -> child.getChildren.get(0).getId)
              else Nil
            here ++ walkElemIds(path, child)
        }
      val elemIdOf: Map[String, Int] = walkElemIds("", td).toMap
      // MAP columns: the KEY child's stats (key-domain fields) and the
      // VALUE child's (value-domain fields)
      def walkMapChildIds(prefix: String, childIdx: Int,
          t: org.apache.orc.TypeDescription): Seq[(String, Int)] =
        if (t.getCategory != org.apache.orc.TypeDescription.Category.STRUCT) Nil
        else t.getFieldNames.asScala.toSeq.zip(t.getChildren.asScala).flatMap {
          case (n, child) =>
            val path = if (prefix.isEmpty) n else s"$prefix.$n"
            val here =
              if (child.getCategory == org.apache.orc.TypeDescription.Category.MAP)
                Seq(path.toLowerCase -> child.getChildren.get(childIdx).getId)
              else Nil
            here ++ walkMapChildIds(path, childIdx, child)
        }
      val keyIdOf: Map[String, Int] = walkMapChildIds("", 0, td).toMap
      val valueIdOf: Map[String, Int] = walkMapChildIds("", 1, td).toMap
      // struct leaves INSIDE a LIST element: descend from the LIST child
      // through struct fields along `rest`
      def descendStruct(t: org.apache.orc.TypeDescription, rest: String): Option[Int] =
        rest.split('.').foldLeft(Option(t)) { (cur, seg) =>
          cur.flatMap { c =>
            if (c.getCategory != org.apache.orc.TypeDescription.Category.STRUCT) None
            else c.getFieldNames.asScala.zip(c.getChildren.asScala)
              .collectFirst { case (n, ch) if n.equalsIgnoreCase(seg) => ch }
          }
        }.map(_.getId)
      def listElemType(base: String): Option[org.apache.orc.TypeDescription] = {
        // re-walk to the LIST node itself to hand its child to descendStruct
        def walk(prefix: String, t: org.apache.orc.TypeDescription):
            Option[org.apache.orc.TypeDescription] =
          if (t.getCategory != org.apache.orc.TypeDescription.Category.STRUCT) None
          else t.getFieldNames.asScala.toSeq.zip(t.getChildren.asScala).flatMap {
            case (n, child) =>
              val path = if (prefix.isEmpty) n else s"$prefix.$n"
              val here =
                if (path.equalsIgnoreCase(base) &&
                    child.getCategory == org.apache.orc.TypeDescription.Category.LIST)
                  Seq(child.getChildren.get(0))
                else Nil
              here ++ walk(path, child).toSeq
          }.headOption
        walk("", td)
      }
      val stripes = reader.getStripes.asScala.toSeq
      val stripeStats = reader.getStripeStatistics.asScala.toSeq
      // A writer that omitted the stripe-statistics section must NOT make
      // the file look empty (zero blocks = provably-no-rows to the fold):
      // synthesize stat-less blocks — may-contain, never wrongly pruned.
      val blocks =
        if (stripeStats.size == stripes.size) {
          stripes.zip(stripeStats).map { case (si, ss) =>
            val colStats = ss.getColumnStatistics
            val cols = indexed.flatMap { case (name, dt, dom, base, rest) =>
              val cid = dom match {
                case 0 => idOf.get(name.toLowerCase)
                case 1 if rest.isEmpty => elemIdOf.get(base.toLowerCase)
                case 1 => listElemType(base).flatMap(descendStruct(_, rest))
                case 2 => keyIdOf.get(base.toLowerCase)
                case _ => valueIdOf.get(base.toLowerCase)
              }
              cid.map { id =>
                val cs = orcStats(colStats(id), si.getNumberOfRows, dt)
                // element/key counts are not row counts (see parquet twin)
                name -> (if (dom != 0) cs.copy(nullCount = None) else cs)
              }
            }.toMap
            BlockStats(si.getNumberOfRows, cols)
          }
        } else {
          // explicit all-unknown entries (not an empty map) so the
          // full-scan min/max fallback recognizes and patches them
          val unknown = indexed.map { case (n, _, _, _, _) => n -> ColumnStats(None, None, None) }.toMap
          stripes.map(si => BlockStats(si.getNumberOfRows, unknown))
        }
      FileFooter(schema.json, blocks)
    } finally reader.close()
  }

  /** ORC column statistics → canonical ColumnStats (same degradation
    * contract as [[chunkStats]]: anything not provably sound → None,
    * which the fold treats as may-contain and the full-scan fallback
    * patches). Timestamp bounds are millisecond-granular in ORC, so the
    * max is widened to the end of its millisecond — loose by <1ms, sound.
    * Truncated string bounds (lowerBound/upperBound) are sound by
    * definition (lower ≤ min, upper ≥ max). */
  private def orcStats(
      cs: org.apache.orc.ColumnStatistics,
      stripeRows: Long,
      dt: DataType): ColumnStats = {
    val nullCount = Some(stripeRows - cs.getNumberOfValues)
    if (cs.getNumberOfValues == 0L) return ColumnStats(None, None, nullCount)
    val minmax: Option[(Any, Any)] = (dt, cs) match {
      case (IntegerType | LongType, s: org.apache.orc.IntegerColumnStatistics) =>
        Some((s.getMinimum, s.getMaximum))
      case (DateType, s: org.apache.orc.DateColumnStatistics) =>
        Some((s.getMinimumDayOfEpoch, s.getMaximumDayOfEpoch))
      case (StringType, s: org.apache.orc.StringColumnStatistics) =>
        val mn = Option(s.getMinimum).orElse(Option(s.getLowerBound))
        val mx = Option(s.getMaximum).orElse(Option(s.getUpperBound))
        mn.zip(mx)
      case (TimestampType, s: org.apache.orc.TimestampColumnStatistics) =>
        Option(s.getMinimumUTC).zip(Option(s.getMaximumUTC)).map { case (a, b) =>
          (a.getTime * 1000L, b.getTime * 1000L + 999L)
        }
      case (dec: DecimalType, s: org.apache.orc.DecimalColumnStatistics) =>
        for {
          mn <- Option(s.getMinimum).flatMap(d => Canon.decimalCanon(dec, d.bigDecimalValue))
          mx <- Option(s.getMaximum).flatMap(d => Canon.decimalCanon(dec, d.bigDecimalValue))
        } yield (mn, mx)
      // Double/Float: ORC's stats writer silently SKIPS NaN (primitive
      // comparisons never update min/max on NaN), so a NaN-bearing stripe
      // would carry bounds that exclude a value Spark orders ABOVE them —
      // unsound for max-side pruning. Degrade to None; the full-scan
      // fallback computes exact NaN-aware bounds from the data.
      // TimestampNTZ: ORC's local-vs-UTC accessor semantics differ across
      // writers — degrade to None; the full-scan fallback supplies bounds.
      case _ => None
    }
    minmax match {
      case Some((mn, mx)) => ColumnStats(Some(mn), Some(mx), nullCount)
      case None => ColumnStats(None, None, nullCount)
    }
  }

  /** Full-scan min/max fallback for indexed columns whose footers carried
    * no usable statistics — INT96 timestamps from legacy (pre-Spark-3)
    * writers in particular, plus truncated binary bounds that don't
    * round-trip through UTF-8 (the reference covers these by computing
    * ALL stats from a full data scan, ParquetIndexReadSupport.scala:64-73;
    * we scan only the affected files and columns).
    *
    * Three steps, all metadata-sized except the scan:
    *   1. detect (file, column) pairs where some block has non-null rows
    *      but no min/max ([[affectedFile]]) — only the affected paths
    *      reach the driver, the same order of driver memory as the file
    *      listing create() already holds;
    *   2. one DataFrame aggregation over ONLY those files/columns:
    *      groupBy(input_file_name) → min/max per column (map-side
    *      partials, one tiny row per affected file is collected);
    *   3. patch the affected rows with their file's bounds
    *      ([[patchBlocks]]).
    *
    * The patched bounds are per-FILE, applied to each non-all-null block:
    * looser than true per-block bounds but sound (every block's values
    * lie within its file's range). Blocks known all-null keep min/max =
    * None — that's a STRONGER pruning fact than any range.
    *
    * This entry point runs over the files table: detection is a Dataset
    * pass, and the patched table is rewritten via tmp + rename.
    * [[patchMinMax]] runs the same steps over rows the driver holds.
    *
    * @return number of files whose stats were patched */
  def fullScanMinMaxFallback(
      spark: SparkSession,
      filesDir: Path,
      indexSchema: StructType,
      source: String = Sources.Parquet,
      onlyPaths: Option[Seq[String]] = None,
      dataSchema: Option[StructType] = None): Long = {
    import spark.implicits._
    val names = fallbackColumns(indexSchema)
    if (names.isEmpty) return 0L
    val allRows = spark.read.schema(IndexFilesTable.Schema).parquet(filesDir.toString)
      .as[FileStatsRow]
    // refresh knows only the DELTA can be statless — an isin on the
    // sorted path column pushes into the parquet scan and skips every
    // pre-existing row group, so detection never parses the whole
    // table's blocksJson for a small append (the 10^6-file refresh
    // floor). Large deltas fall back to the full detection scan.
    val files = onlyPaths match {
      case Some(ps) if ps.nonEmpty && ps.size <= 10000 =>
        allRows.filter(col("path").isin(ps: _*)).as[FileStatsRow]
      case _ => allRows
    }
    val affected = files.flatMap(r => affectedFile(r, names)).collect().toSeq
    if (affected.isEmpty) return 0L

    // the rewrite covers the WHOLE table (allRows, never the onlyPaths
    // slice — replacing the table with just the delta would drop every
    // pre-existing row); only the affected rows change
    val bounds = spark.sparkContext.broadcast(
      scanBounds(spark, affected, indexSchema, source, dataSchema))
    val patched = allRows.map { r =>
      bounds.value.get(SketchStore.normalizePath(r.path)).fold(r)(patchBlocks(r, _))
    }
    val fs = filesDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(filesDir.getParent, filesDir.getName + "_mmtmp")
    patched.toDF().sort(col("partitionIdx"), col("path"))
      .write.mode("overwrite").parquet(tmp.toString)
    fs.delete(filesDir, true)
    fs.rename(tmp, filesDir)
    IndexFilesTable.invalidate(filesDir)
    affected.length.toLong
  }

  /** [[fullScanMinMaxFallback]] over rows the driver holds (a refresh
    * delta below the distributed threshold): detection runs in memory,
    * and the scan runs only when some file is affected. `dataSchema`
    * is the rows' merged schema, so the scan infers nothing. */
  def patchMinMax(
      spark: SparkSession,
      rows: Seq[FileStatsRow],
      indexSchema: StructType,
      source: String,
      dataSchema: Option[StructType]): Seq[FileStatsRow] = {
    val names = fallbackColumns(indexSchema)
    val affected = rows.flatMap(affectedFile(_, names))
    if (affected.isEmpty) rows
    else {
      val bounds = scanBounds(spark, affected, indexSchema, source, dataSchema)
      rows.map(r => bounds.get(SketchStore.normalizePath(r.path)).fold(r)(patchBlocks(r, _)))
    }
  }

  /** The fallback's candidate columns. Element-domain (array) fields are
    * excluded: min(arrayCol) is the wrong domain (lexicographic array
    * order, not element bounds); a stat-less array column simply stays
    * may-contain, with the dict / bloom sketch still answering
    * array_contains membership. */
  private def fallbackColumns(indexSchema: StructType): Seq[String] =
    indexSchema.fields.toSeq.filterNot(IndexMetadata.isElementDomain).map(_.name)

  /** Is `st` in a block of `rowCount` rows a hole the fallback patches:
    * non-null rows but no min/max? */
  private def statless(st: ColumnStats, rowCount: Long): Boolean =
    rowCount > 0 && st.min.isEmpty && !st.knownAllNull(rowCount)

  /** (path, columns of `names` with a statless block) of an affected row. */
  private def affectedFile(r: FileStatsRow, names: Seq[String]): Option[(String, Seq[String])] = {
    val blocks = IndexMetadata.blocksFromJsonString(r.blocksJson)
    val cols = names.filter(n => blocks.exists(b => b.columns.get(n).exists(statless(_, b.rowCount))))
    if (cols.isEmpty) None else Some((r.path, cols))
  }

  /** Per-file canonical (min, max) of the affected columns, keyed by
    * normalized path — one scan of the affected files, pruned to the
    * affected columns (ReadSchema carries only those + file name). A
    * column whose bounds stay unknown (all null, or no canonical form) is
    * absent from its file's map. */
  private def scanBounds(
      spark: SparkSession,
      affected: Seq[(String, Seq[String])],
      indexSchema: StructType,
      source: String,
      dataSchema: Option[StructType]): Map[String, Map[String, (Any, Any)]] = {
    val colNames = affected.flatMap(_._2).distinct
    val types = indexSchema.fields.map(f => f.name -> f.dataType).toMap
    val read = Sources.read(spark, source, affected.map(_._1), dataSchema)
    val withCols = colNames.foldLeft(read) { (d, c) =>
      if (hasColumn(d, c)) d else d.withColumn(c, lit(null).cast(types(c)))
    }
    val normPath = (c: org.apache.spark.sql.Column) => graft.functions.exprs.normalize_path(c)
    val aggs = colNames.flatMap(c => Seq(min(col(c)), max(col(c))))
    withCols
      .select((colNames.map(col) :+ normPath(input_file_name()).as("__file")): _*)
      .groupBy(col("__file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .map { row =>
        row.getString(0) -> colNames.zipWithIndex.flatMap { case (c, i) =>
          for {
            mn <- Option(row.get(1 + 2 * i)).flatMap(Canon.fromExternal(types(c), _))
            mx <- Option(row.get(2 + 2 * i)).flatMap(Canon.fromExternal(types(c), _))
          } yield c -> (mn, mx)
        }.toMap
      }.toMap
  }

  /** `r` with every statless block of a column in `bounds` given the
    * file's (min, max). */
  private def patchBlocks(r: FileStatsRow, bounds: Map[String, (Any, Any)]): FileStatsRow = {
    val blocks = IndexMetadata.blocksFromJsonString(r.blocksJson).map { b =>
      BlockStats(b.rowCount, b.columns.map { case (name, st) =>
        bounds.get(name) match {
          case Some((mn, mx)) if statless(st, b.rowCount) =>
            name -> ColumnStats(Some(mn), Some(mx), st.nullCount)
          case _ => name -> st
        }
      })
    }
    r.copy(blocksJson = IndexMetadata.blocksToJsonString(blocks))
  }

  /** Build per-(file × column) membership sketches with a single
    * DataFrame aggregation and write them as a parquet table
    * (file, column, kind, data) under `sketchDir`. `dataSchema` is the
    * files' merged footer schema when the caller has it; without it the
    * read infers one. */
  def buildSketches(
      spark: SparkSession,
      filePaths: Seq[String],
      indexSchema: StructType,
      confKind: String,
      expectedItems: Long,
      sketchDir: Path,
      mode: String = "overwrite",
      source: String = Sources.Parquet,
      dataSchema: Option[StructType] = None): Unit = {
    if (filePaths.isEmpty || indexSchema.isEmpty) return
    // a merged schema: an indexed column absent from some files must read
    // as null there (heterogeneous tables), not fail to resolve
    val read = Sources.read(spark, source, filePaths, dataSchema)
    // An indexed column absent from EVERY file in this batch (incremental
    // refresh over a homogeneous delta) must still aggregate — as all-null,
    // yielding an empty sketch (sound: the files really contain no values).
    val df = indexSchema.fields.foldLeft(read) { (d, f) =>
      if (IndexMetadata.isMapValue(f) || hasColumn(d, f.name)) d
      else d.withColumn(f.name, lit(null).cast(f.dataType))
    }
    val aggs = indexSchema.fields.map { f =>
      val kind = Sketch.resolveKind(confKind, f.dataType)
      // map VALUE domains sketch map_values(mapCol) — there is no data
      // column named `m#value`; a batch missing the map column entirely
      // aggregates an all-null array (empty sketch, sound)
      val input: org.apache.spark.sql.Column =
        if (!IndexMetadata.isMapValue(f)) col(f.name)
        else {
          // presence checked against the ORIGINAL read: the fold above may
          // have stubbed the missing map column as a null KEY-typed scalar
          // (for the sibling key-domain field), which map_values can't take
          val base = IndexMetadata.mapValueBase(f.name)
          if (hasColumn(read, base)) map_values(col(base))
          else lit(null).cast(ArrayType(f.dataType))
        }
      SparkInternals.wrap(
        SketchAgg(SparkInternals.unwrap(input), kind, expectedItems)
          .toAggregateExpression()).as(f.name)
    }
    // Key rows by the NORMALIZED path (same normalization the read side
    // uses) so query-time `file IN (...)` pushdown filters on exact
    // stored values.
    val normPath = (c: org.apache.spark.sql.Column) => graft.functions.exprs.normalize_path(c)
    val wide = df
      .select((col("*") +: Seq(normPath(input_file_name()).as("__file"))): _*)
      .groupBy(col("__file"))
      .agg(aggs.head, aggs.tail: _*)
    val stackArgs = indexSchema.fields.map { f =>
      val kind = Sketch.resolveKind(confKind, f.dataType)
      s"'${f.name}', '$kind', `${f.name}`"
    }.mkString(", ")
    val long = wide.selectExpr(
      "__file as file",
      s"stack(${indexSchema.size}, $stackArgs) as (column, kind, data)")
    // Sort by file so row-group min/max + dictionary stats make the
    // query-time pruned read skip everything outside the survivor set.
    // (Appended part files are each sorted internally, which is what the
    // per-row-group `file IN` pushdown needs.)
    long.sort(col("file"), col("column"))
      .write.mode(mode).parquet(sketchDir.toString)
  }

  /** Write to `out` the rows of the sketch table in `sketchDir` whose
    * file is in `keep` (normalized paths). A filter only: one task per
    * part file and no shuffle or sort, so each output part keeps its
    * input's file order, which the query-time `file IN` pushdown relies
    * on. */
  def filterSketches(spark: SparkSession, sketchDir: Path, keep: Set[String], out: Path): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val parts = sketchDir.getFileSystem(hconf).listStatus(sketchDir).toSeq
      .map(_.getPath)
      .filter(p => !p.getName.startsWith("_") && !p.getName.startsWith("."))
      .map(_.toString).sorted
    val keepBc = spark.sparkContext.broadcast(keep)
    val confBc = spark.sparkContext.broadcast(new SerializableConfiguration(hconf))
    val rows = spark.sparkContext.parallelize(parts, math.max(1, parts.size)).flatMap { part =>
      val reader = org.apache.parquet.hadoop.ParquetReader
        .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(), new Path(part))
        .withConf(confBc.value.value).build()
      org.apache.spark.TaskContext.get().addTaskCompletionListener[Unit](_ => reader.close())
      Iterator.continually(reader.read()).takeWhile(_ != null)
        .filter(g => keepBc.value.contains(g.getString("file", 0)))
        .map(g => org.apache.spark.sql.Row(g.getString("file", 0), g.getString("column", 0),
          g.getString("kind", 0), g.getBinary("data", 0).getBytes))
    }
    spark.createDataFrame(rows, SketchStore.Schema).write.mode("overwrite").parquet(out.toString)
  }
}

/** Mergeable sketch-building aggregate: a native Catalyst
  * TypedImperativeAggregate so sketch construction runs inside Spark's
  * aggregation machinery (partial aggregation map-side; only serialized
  * sketches cross the shuffle). Replaces the reference's executor-side
  * imperative loop in ParquetStatisticsRDD.scala:213-241. */
case class SketchAgg(
    child: Expression,
    kind: String,
    expectedItems: Long,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Sketch] {

  override def children: Seq[Expression] = child :: Nil
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def prettyName: String = "graft_sketch_agg"

  override def createAggregationBuffer(): Sketch = Sketch.create(kind, expectedItems)

  override def update(buffer: Sketch, input: InternalRow): Sketch = {
    val v = child.eval(input)
    if (v != null) child.dataType match {
      // element-domain sketch: every non-null element of the array joins
      // the file's membership set (array_contains pruning)
      case org.apache.spark.sql.types.ArrayType(et, _) =>
        val arr = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        var i = 0
        val n = arr.numElements()
        while (i < n) {
          if (!arr.isNullAt(i)) buffer.put(Canon.fromCatalyst(et, arr.get(i, et)))
          i += 1
        }
      // key-domain sketch: every key of the map joins the file's
      // membership set (map_contains_key pruning). SQL map keys are
      // never null, but foreign-written files (ORC permits it) can
      // carry one — guard like the array branch rather than NPE/poison
      // the sketch with an unboxed phantom key
      case org.apache.spark.sql.types.MapType(kt, _, _) =>
        val keys = v.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData].keyArray()
        var i = 0
        val n = keys.numElements()
        while (i < n) {
          if (!keys.isNullAt(i)) buffer.put(Canon.fromCatalyst(kt, keys.get(i, kt)))
          i += 1
        }
      case dt => buffer.put(Canon.fromCatalyst(dt, v))
    }
    buffer
  }

  override def merge(buffer: Sketch, other: Sketch): Sketch = buffer.merge(other)

  override def eval(buffer: Sketch): Any = buffer.serialize()

  override def serialize(buffer: Sketch): Array[Byte] = buffer.serialize()
  override def deserialize(bytes: Array[Byte]): Sketch = Sketch.deserialize(kind, bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): SketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): SketchAgg =
    copy(child = newChildren.head)
}
