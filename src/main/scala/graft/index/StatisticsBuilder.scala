package graft.index

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.metadata.ColumnChunkMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType}
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

import org.apache.spark.{TaskContext, TaskKilledException}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SparkInternals
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.SerializableConfiguration

/** Index-statistics collection: ONE pass per data file, as the
  * reference's ParquetStatisticsRDD reads each file's footer and data in
  * one task (SURVEY.md §3.1 step 5, reference ParquetStatisticsRDD.scala:
  * 123-276). A slice of the pass owns whole files; for each it
  *   1. reads the footer: the file's schema plus min/max/null per row
  *      group (footers replace the reference's full-data min/max scan,
  *      SURVEY.md §7.1 deltas #2/#3);
  *   2. reads, through Spark's own file reader, only the columns it
  *      needs: the sketch columns, plus the fallback columns when the
  *      footer left holes in this file (INT96 timestamps and the like);
  *   3. builds one membership sketch per indexed column and patches the
  *      holes with the file's own data bounds.
  * The slices run on the driver when the files fit one scan task, else
  * as a Spark job (see [[withPass]]). The pass's output serves one index
  * operation, create or refresh: its files-table rows and its sketch rows
  * are written from it, with no shuffle, and its summary goes to the
  * metadata.
  */
object StatisticsBuilder {

  /** Is a footer's Double/Float min/max trustworthy given its writer
    * (`created_by`)? Only NaN-POISONING writers qualify: parquet-mr's
    * sticky Math.min/max fold turns both bounds to NaN the moment a NaN
    * value arrives, so a surviving non-NaN bound pair proves the chunk
    * holds no NaN (MetadataAggSpec's FP footer test pins that behavior
    * against the bundled writer). Spec-recommended NaN-SKIPPING writers
    * (arrow/parquet-cpp) and unknown writers leave no trace of NaN
    * presence — their bounds exclude a value Spark orders ABOVE max, so
    * they degrade to the min/max fallback instead. */
  def fpFooterTrusted(createdBy: Option[String]): Boolean =
    createdBy.exists(_.startsWith("parquet-mr"))

  /** Serializable file handle shipped to the pass. `hosts` carries
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

  /** One indexed field as shipped to the pass's slices:
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

  /** Driver-side summary of indexed files: everything metadata.json needs
    * beyond the files table, plus the bytes of their sketches and the
    * first path (Spark's string order) of each distinct file schema.
    * Summaries of disjoint file sets merge into the summary of their
    * union. */
  case class FileStatsSummary(fileCount: Long, totalBytes: Long, sketchBytes: Long,
      firstPath: Map[String, String]) {
    def merge(o: FileStatsSummary): FileStatsSummary = FileStatsSummary(
      fileCount + o.fileCount, totalBytes + o.totalBytes, sketchBytes + o.sketchBytes,
      o.firstPath.foldLeft(firstPath) { case (m, (s, p)) =>
        if (m.get(s).forall(Canon.compare(p, _) < 0)) m.updated(s, p) else m
      })
    /** The distinct schemas merged in the order of their first path. */
    def dataSchema: Option[StructType] =
      mergeSchemaJsons(firstPath.toSeq.sortWith((a, b) => Canon.compare(a._2, b._2) < 0).map(_._1))
  }

  object FileStatsSummary {
    val Empty: FileStatsSummary = FileStatsSummary(0L, 0L, 0L, Map.empty)
  }

  /** One row of the sketch table: (normalized file, column, kind, data). */
  type SketchRow = (String, String, String, Array[Byte])

  /** What the pass emits per data file: its files-table row, footer holes
    * patched, and its sketch rows. */
  type PassRow = (FileStatsRow, Array[SketchRow])

  /** The pass's output for one index operation, wherever it ran. */
  sealed trait Pass {
    /** The summary of the files and their sketches. */
    def summarize: FileStatsSummary
    /** Appends the files-table rows, with `kept` (rows of other files
      * that the caller holds), to the table in `dir`, each part sorted by
      * (partitionIdx, path): one part on the driver; in a Spark job, one
      * per slice and one for `kept`. */
    def writeFileStats(dir: Path, kept: Seq[FileStatsRow]): Unit
    /** Appends the sketch rows to the sketch table in `dir` as `parts`
      * part files, each sorted by (file, column) — the order the
      * query-time `file IN` pushdown skips row groups by. The pass emits
      * its rows in that order and its slices cover disjoint path ranges,
      * so neighbouring slices merge without a shuffle or a sort, as RDD
      * `coalesce` groups them. */
    def writeSketches(dir: Path, parts: Int): Unit
    /** The rows the writes write, when the pass ran on the driver: a
      * commit hands them to the read caches. A Spark job's rows stay on
      * its executors. */
    def driverRows: Option[Seq[PassRow]]
  }

  /** How a pass reads each file ([[PerFile]]), built on the driver
    * before the files are known: building it (Spark's file reader
    * broadcasts the Hadoop conf) needs only the index metadata, so a
    * refresh builds it beside its listing. */
  final class Reader private[StatisticsBuilder] (perFile: Seq[(Int, FileRef)] => PerFile) {
    private[StatisticsBuilder] def apply(refs: Seq[(Int, FileRef)]): PerFile = perFile(refs)
  }

  /** The [[Reader]] of the indexed columns `indexSchema` of `source`
    * files. `schema` is the table's merged schema as the caller knows it
    * (the index metadata's, or at create the schema the index columns
    * were resolved against); if an indexed column the pass reads does not
    * resolve in it, the reader is built at the pass, over the files' own
    * merged schema (inferred on the driver when they fit one scan task).
    * `sketchKind` None builds no sketches; `fallback` patches footer holes
    * from the data. */
  def reader(spark: SparkSession, indexSchema: StructType, schema: StructType,
      sketchKind: Option[String], fallback: Boolean, source: String): Reader = {
    val src = Sources.normalize(source)
    PerFile(spark, indexSchema, schema, sketchKind, fallback, src, requireAll = true) match {
      case Some(perFile) => new Reader(_ => perFile)
      case None => new Reader(refs => PerFile(spark, indexSchema,
        SparkInternals.filesSchema(spark, src, refs.map { case (_, r) =>
          new FileStatus(r.size, false, 1, r.blockSize, r.modificationTime, new Path(r.path))
        }), sketchKind, fallback, src, requireAll = false).get)
    }
  }

  /** Runs `body` over the pass for `refs` (nonempty), each file read by
    * `reader`.
    *
    * The runner is chosen here, by Spark's own scan-packing rule: when
    * the files fit one scan task (each costs its size plus
    * `spark.sql.files.openCostInBytes`, a task takes up to
    * `spark.sql.files.maxPartitionBytes`: at most 31 files at the
    * defaults) the slices run on the driver, on at most as many threads
    * as it has cores, and their output is written from there, so the
    * operation starts no Spark job; otherwise the pass is a Spark job,
    * persisted while `body` runs. Either way each file goes through the
    * same [[PerFile]]. */
  def withPass[T](
      spark: SparkSession,
      refs: Seq[(Int, FileRef)],
      reader: Reader,
      numPartitions: Int)(body: Pass => T): T = {
    val perFile = reader(refs)
    val slices = slice(refs, numPartitions)
    if (SparkInternals.fitsOneScanTask(spark, refs.map(_._2.size))) {
      val conf = spark.sparkContext.hadoopConfiguration
      body(new DriverPass(onDriver(slices.map(_._1), perFile, conf), conf))
    } else {
      val confBc = spark.sparkContext.broadcast(
        new SerializableConfiguration(spark.sparkContext.hadoopConfiguration))
      val rdd = spark.sparkContext.makeRDD(slices).flatMap { group =>
        val (conf, ctx) = (confBc.value.value, TaskContext.get())
        group.iterator.map { case (file, (idx, ref)) =>
          // a cancelled task stops between files
          if (ctx.isInterrupted()) throw new TaskKilledException("cancelled")
          perFile(file, idx, ref, conf)
        }
      }.persist(StorageLevel.MEMORY_AND_DISK)
      try body(new SparkPass(spark, rdd, confBc))
      finally { rdd.unpersist(); () }
    }
  }

  /** The refs keyed by normalized path, sorted by it and cut into at most
    * `numPartitions` slices, so each slice's output covers a disjoint file
    * range; each slice prefers the hosts holding the most bytes of it
    * (reference ParquetStatisticsRDD.getPreferredLocations, :100-121). */
  private def slice(refs: Seq[(Int, FileRef)], numPartitions: Int)
      : Seq[(Seq[(String, (Int, FileRef))], Seq[String])] = {
    val keyed = refs.map(r => SketchStore.normalizePath(r._2.path) -> r)
      .sortWith((a, b) => Canon.compare(a._1, b._1) < 0)
    val slices = math.max(1, math.min(numPartitions, keyed.size))
    val perSlice = (keyed.size + slices - 1) / slices
    keyed.grouped(perSlice).toSeq.map { g =>
      val byHost = g.flatMap { case (_, (_, r)) => r.hosts.map(_ -> r.size) }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum)
      (g, byHost.toSeq.sortBy(-_._2).take(3).map(_._1))
    }
  }

  /** The slices on the driver: one thread per slice, at most as many as
    * the driver has cores. The first failing slice fails the pass; the
    * others are interrupted, which each checks between files, and waited
    * for. */
  private def onDriver(slices: Seq[Seq[(String, (Int, FileRef))]], perFile: PerFile,
      conf: Configuration): Seq[Seq[PassRow]] = {
    import java.util.concurrent.{ExecutionException, ExecutorCompletionService, Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(
      math.min(slices.size, Runtime.getRuntime.availableProcessors))
    try {
      val done = new ExecutorCompletionService[Seq[PassRow]](pool)
      val futures = slices.map { group =>
        done.submit(() => group.map { case (file, (idx, ref)) =>
          if (Thread.interrupted()) throw new InterruptedException("cancelled")
          SparkInternals.asTask(perFile(file, idx, ref, conf))
        })
      }
      try {
        futures.foreach(_ => done.take().get())
        futures.map(_.get())
      } catch { case e: ExecutionException => throw e.getCause }
    } finally {
      pool.shutdownNow()
      pool.awaitTermination(1, TimeUnit.MINUTES)
      ()
    }
  }

  /** One data file's [[PassRow]]: a serializable function, built once on
    * the driver, that reads the file's footer, finds the fallback columns
    * with holes (same [[statless]] rule), reads through Spark's own
    * `FileFormat.buildReaderWithPartitionValues` (Parquet and ORC,
    * `returning_batch=false`, the merged schema) the sketch columns plus,
    * for a file with holes, the fallback columns, builds one sketch per
    * sketch column sized `max(4096, rows)` and patches the holes with the
    * file's own bounds. */
  private final class PerFile(
      src: String,
      fields: Array[(String, String, Int, String, String)],
      kinds: Array[(String, String)],
      holeCols: Array[(String, DataType)],
      read: Option[((String, Long, Long) => Iterator[InternalRow], Array[Expression])])
      extends Serializable {

    @transient private lazy val types = fields.map { case (n, dj, dom, base, rest) =>
      (n, DataType.fromJson(dj), dom, base, rest) }

    def apply(file: String, partitionIdx: Int, ref: FileRef, conf: Configuration): PassRow = {
      val footer =
        if (src == Sources.Orc) readOrcBlocks(ref.path, types, conf)
        else readFooterBlocks(ref.path, types, conf)
      val holes = holeCols.indices.filter { j =>
        footer.blocks.exists(b => b.columns.get(holeCols(j)._1).exists(statless(_, b.rowCount)))
      }.toArray
      // one sketch per column, sized by the file's own row count
      val sketches =
        kinds.map { case (_, kind) => Sketch.create(kind, math.max(4096L, footer.rowCount)) }
      val bounds = read.filter(_ => footer.rowCount > 0 && (kinds.nonEmpty || holes.nonEmpty))
        .fold(Map.empty[String, (Any, Any)]) { case (open, exprs) =>
          scan(open(ref.path, ref.size, ref.modificationTime), exprs,
            sketches, holes.map(j => (holeCols(j), kinds.length + j)))
        }
      val row = FileStatsRow(partitionIdx, ref.path, ref.size, ref.modificationTime,
        ref.blockSize, ref.locationsJson, footer.schemaJson,
        IndexMetadata.blocksToJsonString(patchBlocks(footer.blocks, bounds)), footer.rowCount)
      // a file without rows gets no sketch rows: its zero blocks already prune
      val sketchRows =
        if (footer.rowCount == 0) Array.empty[SketchRow]
        else kinds.zip(sketches).map { case ((name, kind), s) => (file, name, kind, s.serialize()) }
      (row, sketchRows)
    }
  }

  private object PerFile {
    /** Resolves and binds the column inputs once: a dotted struct leaf, an
      * array (its elements), an array-of-struct leaf (the leaf of every
      * element), a map (its keys) or `map_values` of a map; a column the
      * schema lacks reads as null, so its sketch is empty. One reader is
      * built, over the sketch columns and every fallback column: with
      * sketches on, the fallback columns are among the sketch columns.
      * None when `requireAll` and a column does not resolve in `schema`. */
    def apply(
        spark: SparkSession,
        indexSchema: StructType,
        schema: StructType,
        sketchKind: Option[String],
        fallback: Boolean,
        src: String,
        requireAll: Boolean): Option[PerFile] = {
      // by name, so each file's sketch rows come out in (file, column) order
      val sketchFields =
        if (sketchKind.isEmpty) Nil
        else indexSchema.fields.toSeq.sortWith((a, b) => Canon.compare(a.name, b.name) < 0)
      // element-domain fields are no fallback columns: min(arrayCol) is the
      // wrong domain (lexicographic array order, not element bounds); a
      // statless array column stays may-contain, with the sketch still
      // answering membership
      val fallbackFields =
        if (fallback) indexSchema.fields.toSeq.filterNot(IndexMetadata.isElementDomain) else Nil
      val column = (f: StructField) =>
        if (IndexMetadata.isMapValue(f)) IndexMetadata.mapValueBase(f.name) else f.name
      val frame = SparkInternals.emptyFrame(spark, schema)
      val resolves = (sketchFields ++ fallbackFields).forall(f => hasColumn(frame, column(f)))
      if (requireAll && !resolves) return None
      val input = (f: StructField) =>
        if (!hasColumn(frame, column(f))) {
          lit(null).cast(if (IndexMetadata.isMapValue(f)) ArrayType(f.dataType) else f.dataType)
        } else if (IndexMetadata.isMapValue(f)) map_values(col(column(f)))
        else col(f.name)
      val read = if (sketchFields.isEmpty && fallbackFields.isEmpty) None else {
        val (required, exprs) =
          SparkInternals.bindColumns(frame, (sketchFields ++ fallbackFields).map(input))
        Some((SparkInternals.fileReader(spark, src, schema, required), exprs.toArray))
      }
      Some(new PerFile(src, indexSchema.fields.map(domainSpec),
        sketchFields.map(f => f.name -> Sketch.resolveKind(sketchKind.get, f.dataType)).toArray,
        fallbackFields.map(f => f.name -> f.dataType).toArray, read))
    }
  }

  /** A pass run on the driver: its rows per slice, and the conf it
    * writes with. */
  private final class DriverPass(slices: Seq[Seq[PassRow]], conf: Configuration) extends Pass {
    def summarize: FileStatsSummary = summaryOf(slices.iterator.flatten)

    def driverRows: Option[Seq[PassRow]] = Some(slices.flatten)

    def writeFileStats(dir: Path, kept: Seq[FileStatsRow]): Unit =
      IndexFilesTable.write(dir, (kept ++ slices.flatten.map(_._1)).sortWith(filesOrder), conf)

    def writeSketches(dir: Path, parts: Int): Unit = {
      val run = java.util.UUID.randomUUID().toString
      val k = math.max(1, math.min(parts, slices.size))
      (0 until k).foreach { i =>
        val group = slices.slice(i * slices.size / k, (i + 1) * slices.size / k)
        val rows = group.iterator.flatMap(_.iterator.flatMap(_._2.iterator))
        if (rows.hasNext) writeSketchPart(dir, i, run, 0, conf, rows)
      }
    }
  }

  /** A pass run as a Spark job: its persisted RDD, one partition per
    * slice, and the conf broadcast its tasks read files with. */
  private final class SparkPass(spark: SparkSession, pass: RDD[PassRow],
      confBc: Broadcast[SerializableConfiguration]) extends Pass {

    def summarize: FileStatsSummary =
      pass.mapPartitions(it => Iterator.single(summaryOf(it))).collect().reduce(_ merge _)

    def driverRows: Option[Seq[PassRow]] = None

    def writeFileStats(dir: Path, kept: Seq[FileStatsRow]): Unit = {
      if (kept.nonEmpty) {
        IndexFilesTable.write(dir, kept.sortWith(filesOrder), spark.sparkContext.hadoopConfiguration)
      }
      spark.createDataFrame(pass.map(_._1)).sortWithinPartitions("partitionIdx", "path")
        .write.mode("append").parquet(dir.toString)
    }

    def writeSketches(dir: Path, parts: Int): Unit = {
      val (bc, target, run) = (confBc, dir, java.util.UUID.randomUUID().toString)
      spark.sparkContext.runJob(pass.flatMap(_._2.iterator).coalesce(parts),
        (ctx: TaskContext, rows: Iterator[SketchRow]) => {
          if (rows.hasNext) {
            val (bytes, n) = writeSketchPart(target, ctx.partitionId, run, ctx.attemptNumber,
              bc.value.value, rows)
            SparkInternals.recordWrite(bytes, n)
          }
          ()
        })
      ()
    }
  }

  /** Writes sketch part `index` of write `run` into `dir` under a hidden
    * name and renames it into place, so a failed or repeated attempt
    * never leaves a visible partial part. Returns its bytes and rows. */
  private def writeSketchPart(dir: Path, index: Int, run: String, attempt: Int,
      conf: Configuration, rows: Iterator[SketchRow]): (Long, Long) = {
    val name = f"part-$index%05d-$run-c000.snappy.parquet"
    val tmp = new Path(dir, s".$name.$attempt")
    val fs = tmp.getFileSystem(conf)
    try {
      val (n, bytes) = writeKnownPart(tmp, name, conf)(rows.foreach)
      if (!fs.rename(tmp, new Path(dir, name))) fs.delete(tmp, false)
      (bytes, n)
    } catch { case e: Throwable => fs.delete(tmp, false); throw e }
  }

  /** What a sketch part's footer tells [[stageSketchRemovals]]: the
    * (min, max) of the `file` column per row group with rows (None where
    * a group records none), and the parquet read schema of that column
    * alone. */
  private final case class PartFiles(bounds: Seq[Option[(String, String)]], fileSchema: String)

  /** [[PartFiles]] of the sketch parts this process wrote or read, by
    * (name, length, mtime). A part is immutable and its name holds a
    * write's UUID; it keeps name and mtime when the swap renames it from
    * staging into place, and a mixed part rewritten under its own name
    * has another length and mtime. So every driver-tier refresh with
    * removals, which tests every live part, reads each part's footer at
    * most once per process, and none of a part written here. Bounded:
    * an evicted part's footer is read again. */
  private val knownParts = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(String, Long, Long), PartFiles](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, Long), PartFiles]): Boolean = size > 4096
    })

  /** Forgets every known part (as a process that never saw them). */
  private[index] def forgetKnownParts(): Unit = knownParts.clear()

  /** The read schema of the `file` column alone of a part of `schema`. */
  private def fileOnly(schema: MessageType): String =
    new MessageType(schema.getName, java.util.List.of(schema.getType(schema.getFieldIndex("file"))))
      .toString

  /** [[fileOnly]] of the parts [[SketchStore.writePart]] writes. */
  private lazy val writtenFileSchema = fileOnly(SketchStore.partSchema)

  /** [[SketchStore.writePart]] of `rows` to `file`, whose part is named
    * `name` once in place, remembering its `file` bounds. Returns its
    * rows and bytes. */
  private def writeKnownPart(file: Path, name: String, conf: Configuration)(
      rows: (SketchRow => Unit) => Unit): (Long, Long) = {
    var (lo, hi) = (null: String, null: String)
    val n = SketchStore.writePart(file, conf) { put =>
      rows { r =>
        if (lo == null || Canon.compare(r._1, lo) < 0) lo = r._1
        if (hi == null || Canon.compare(r._1, hi) > 0) hi = r._1
        put(r)
      }
    }
    val st = file.getFileSystem(conf).getFileStatus(file)
    knownParts.put((name, st.getLen, st.getModificationTime),
      PartFiles(if (n == 0) Nil else Seq(Some(lo -> hi)), writtenFileSchema))
    (n, st.getLen)
  }

  /** The [[PartFiles]] of the part `st`, from its footer unless known. */
  private def partFiles(st: FileStatus, conf: Configuration): PartFiles = {
    val key = (st.getPath.getName, st.getLen, st.getModificationTime)
    Option(knownParts.get(key)).getOrElse {
      val footer = {
        val r = openParquet(st.getPath, conf)
        try r.getFooter finally r.close()
      }
      val bounds = footer.getBlocks.asScala.toSeq.flatMap { b =>
        b.getColumns.asScala.find(_.getPath.toDotString == "file").map(_.getStatistics) match {
          case Some(stats) if stats != null && stats.hasNonNullValue =>
            Some(Some(stats.genericGetMin.asInstanceOf[Binary].toStringUsingUTF8 ->
              stats.genericGetMax.asInstanceOf[Binary].toStringUsingUTF8))
          case _ => if (b.getRowCount > 0) Some(None) else None
        }
      }
      val known = PartFiles(bounds, fileOnly(footer.getFileMetaData.getSchema))
      knownParts.put(key, known)
      known
    }
  }

  /** The files table's order within a part: (partitionIdx, path). */
  def filesOrder(a: FileStatsRow, b: FileStatsRow): Boolean =
    a.partitionIdx < b.partitionIdx ||
      (a.partitionIdx == b.partitionIdx && Canon.compare(a.path, b.path) < 0)

  /** One file's rows through the bound inputs: the first `sketches.length`
    * expressions feed the sketches; each hole `((name, indexType), i)`
    * takes the bounds of expression i under Spark's ordering for its type,
    * as the `min`/`max` aggregates would. Returns the canonical (min, max)
    * per hole column whose bounds exist (not all null, and canonical). */
  private def scan(
      rows: Iterator[InternalRow],
      exprs: Array[Expression],
      sketches: Array[Sketch],
      holes: Array[((String, DataType), Int)]): Map[String, (Any, Any)] = {
    val types = exprs.map(_.dataType)
    val lo = new Array[Any](holes.length)
    val hi = new Array[Any](holes.length)
    val ords = holes.map { case (_, i) => PhysicalDataType.ordering(types(i)) }
    rows.foreach { row =>
      var i = 0
      while (i < sketches.length) {
        val v = exprs(i).eval(row)
        if (v != null) put(sketches(i), types(i), v)
        i += 1
      }
      var h = 0
      while (h < holes.length) {
        val v = exprs(holes(h)._2).eval(row)
        if (v != null) {
          if (lo(h) == null || ords(h).lt(v, lo(h))) lo(h) = InternalRow.copyValue(v)
          if (hi(h) == null || ords(h).gt(v, hi(h))) hi(h) = InternalRow.copyValue(v)
        }
        h += 1
      }
    }
    holes.indices.flatMap { h =>
      val ((name, indexType), i) = holes(h)
      val canon = (v: Any) => Option(v).flatMap(x =>
        Canon.fromExternal(indexType, CatalystTypeConverters.convertToScala(x, types(i))))
      for (mn <- canon(lo(h)); mx <- canon(hi(h))) yield name -> (mn, mx)
    }.toMap
  }

  /** Adds a non-null input value of type `dt` to its file's sketch. */
  private def put(sketch: Sketch, dt: DataType, v: Any): Unit = dt match {
    // element-domain sketch: every non-null element of the array joins
    // the file's membership set (array_contains pruning)
    case ArrayType(et, _) => putMembers(sketch, v.asInstanceOf[ArrayData], et)
    // key-domain sketch: every key of the map joins the file's membership
    // set (map_contains_key pruning). SQL map keys are never null, but
    // foreign-written files (ORC permits it) can carry one — skipped like
    // a null element rather than poisoning the sketch
    case MapType(kt, _, _) => putMembers(sketch, v.asInstanceOf[MapData].keyArray(), kt)
    case _ => sketch.put(Canon.fromCatalyst(dt, v))
  }

  private def putMembers(sketch: Sketch, arr: ArrayData, et: DataType): Unit = {
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) sketch.put(Canon.fromCatalyst(et, arr.get(i, et)))
      i += 1
    }
  }

  /** Part files for `bytes` of sketches: as many as AQE coalesces a
    * shuffle of that size to. */
  def sketchParts(spark: SparkSession, bytes: Long): Int = {
    val target = math.max(1L, SparkInternals.coalesceTargetBytes(spark, bytes))
    math.max(1L, (bytes + target - 1) / target).toInt
  }

  /** Stages the removal of `removed` (normalized paths) from the sketch
    * table in `dir`, part by part, on the driver: a part holding none of
    * them stays untouched; a part holding only removed paths is dead; a
    * mixed part is streamed through a filter into `stage`, under its own
    * name. A part whose row groups' `file` bounds hold no removed path is
    * untouched from its footer alone (read once per process, see
    * [[knownParts]]); any other part has its `file` column read to
    * decide. Returns the names of the parts the swap
    * deletes (dead and mixed). */
  def stageSketchRemovals(dir: Path, removed: Set[String], stage: Path, conf: Configuration): Seq[String] = {
    val fs = dir.getFileSystem(conf)
    if (removed.isEmpty || !fs.exists(dir)) return Nil
    val sorted = removed.toArray.sortWith(Canon.compare(_, _) < 0)
    // does some removed path lie in [lo, hi]?
    val within = (lo: String, hi: String) => {
      var (a, b) = (0, sorted.length)
      while (a < b) {
        val m = (a + b) >>> 1
        if (Canon.compare(sorted(m), lo) < 0) a = m + 1 else b = m
      }
      a < sorted.length && Canon.compare(sorted(a), hi) <= 0
    }
    fs.listStatus(dir).toSeq
      .filter(st => !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith("."))
      .sortBy(_.getPath.getName)
      .filter { st =>
        val part = st.getPath
        val known = partFiles(st, conf)
        val files = scala.collection.mutable.HashSet.empty[String]
        if (known.bounds.exists(_.forall { case (lo, hi) => within(lo, hi) })) {
          val fileOnly = new Configuration(conf)
          fileOnly.set(ReadSupport.PARQUET_READ_SCHEMA, known.fileSchema)
          IndexFilesTable.readGroups(part, fileOnly)(g => files += g.getString("file", 0))
        }
        val hit = files.count(removed)
        if (hit > 0 && hit < files.size) {
          writeKnownPart(new Path(stage, part.getName), part.getName, conf) { put =>
            IndexFilesTable.readGroups(part, conf) { g =>
              val file = g.getString("file", 0)
              if (!removed(file)) put((file, g.getString("column", 0), g.getString("kind", 0),
                g.getBinary("data", 0).getBytes))
            }
          }
        }
        hit > 0
      }
      .map(_.getPath.getName)
  }

  /** A parquet-mr reader of `path` under `conf`. (The one-argument
    * `ParquetFileReader.open` builds and parses a fresh Hadoop
    * Configuration per call, about 10 ms each.) */
  private def openParquet(path: Path, conf: Configuration): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromPath(path, conf),
      HadoopReadOptions.builder(conf, path).build())

  /** Does the frame resolve `name` — as a top-level column, or (for a
    * dotted index path) through nested struct resolution? */
  private def hasColumn(d: DataFrame, name: String): Boolean =
    d.columns.exists(_.equalsIgnoreCase(name)) ||
      (name.contains(".") && scala.util.Try(d(name)).isSuccess)

  /** Summary + schema merge over the whole files table (columnar reads of
    * three small columns; distinct schemas are few even at 1M files). */
  def summarizeFilesTable(spark: SparkSession, filesDir: Path): FileStatsSummary = {
    val back = spark.read.schema(IndexFilesTable.Schema).parquet(filesDir.toString)
    val agg = back.agg(count(lit(1)), sum(col("size"))).head
    val firstPath = back.groupBy(col("schemaJson")).agg(min(col("path")))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // sum is NULL over an empty table (all files removed) — degrade to 0
    FileStatsSummary(agg.getLong(0), if (agg.isNullAt(1)) 0L else agg.getLong(1), 0L, firstPath)
  }

  /** The summary of some pass rows, sketch bytes included. */
  private def summaryOf(rows: Iterator[PassRow]): FileStatsSummary =
    rows.foldLeft(FileStatsSummary.Empty) { case (acc, (r, sketches)) =>
      acc.merge(FileStatsSummary(1L, r.size, sketches.iterator.map(_._4.length.toLong).sum,
        Map(r.schemaJson -> r.path)))
    }

  /** The same summary over files-table rows the driver holds. */
  def summarizeRows(rows: Seq[FileStatsRow]): FileStatsSummary =
    summaryOf(rows.iterator.map(_ -> Array.empty[SketchRow]))

  private def mergeSchemaJsons(jsons: Seq[String]): Option[StructType] =
    jsons.map(j => DataType.fromJson(j).asInstanceOf[StructType])
      .reduceOption(SparkInternals.mergeSchemas)

  /** Executor-side: one footer read → schema + BlockStats per row group. */
  private def readFooterBlocks(
      path: String,
      indexed: Array[(String, DataType, Int, String, String)],
      conf: org.apache.hadoop.conf.Configuration): FileFooter = {
    val reader = openParquet(new Path(path), conf)
    try {
      val fileMeta = reader.getFooter.getFileMetaData
      val schema = SparkInternals.footerSparkSchema(
        fileMeta.getKeyValueMetaData, fileMeta.getSchema)
      val msgType = fileMeta.getSchema
      // FP footer bounds are trusted only from NaN-POISONING writers
      // (parquet-mr's sticky Math.min/max fold turns min/max to NaN the
      // moment a NaN arrives, so surviving non-NaN bounds PROVE NaN
      // absence — pinned empirically by MetadataAggSpec's FP footer test against the
      // bundled writer). Spec-recommended NaN-SKIPPING writers
      // (arrow/parquet-cpp) leave no trace of NaN presence: their max
      // excludes a value Spark orders ABOVE it, unsound both for
      // max-side pruning and for metadata-only answers — those degrade
      // to None and the min/max fallback computes exact NaN-aware
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
        // min/max fallback patches them from data).
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
        // Poisoned stats degrade to unknown and the min/max fallback
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
          // min/max fallback recognizes and patches them
          val unknown = indexed.map { case (n, _, _, _, _) => n -> ColumnStats(None, None, None) }.toMap
          stripes.map(si => BlockStats(si.getNumberOfRows, unknown))
        }
      FileFooter(schema.json, blocks)
    } finally reader.close()
  }

  /** ORC column statistics → canonical ColumnStats (same degradation
    * contract as [[chunkStats]]: anything not provably sound → None,
    * which the fold treats as may-contain and the min/max fallback
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
      // unsound for max-side pruning. Degrade to None; the min/max
      // fallback computes exact NaN-aware bounds from the data.
      // TimestampNTZ: ORC's local-vs-UTC accessor semantics differ across
      // writers — degrade to None; the min/max fallback supplies bounds.
      case _ => None
    }
    minmax match {
      case Some((mn, mx)) => ColumnStats(Some(mn), Some(mx), nullCount)
      case None => ColumnStats(None, None, nullCount)
    }
  }

  /** Is `st` in a block of `rowCount` rows a hole the fallback patches:
    * non-null rows but no min/max? Footers leave such holes for INT96
    * timestamps from legacy writers, truncated binary bounds that do not
    * round-trip through UTF-8, FP bounds from untrusted writers and some
    * ORC types (the reference covers these by computing ALL stats from a
    * full data scan, ParquetIndexReadSupport.scala:64-73). */
  private def statless(st: ColumnStats, rowCount: Long): Boolean =
    rowCount > 0 && st.min.isEmpty && !st.knownAllNull(rowCount)

  /** `blocks` with every hole of a column in `bounds` given the file's
    * (min, max): looser than true per-block bounds but sound, since every
    * block's values lie within its file's range. Blocks known all-null
    * keep min/max = None — a stronger pruning fact than any range. */
  private def patchBlocks(blocks: Seq[BlockStats], bounds: Map[String, (Any, Any)]): Seq[BlockStats] =
    if (bounds.isEmpty) blocks
    else blocks.map { b =>
      BlockStats(b.rowCount, b.columns.map { case (name, st) =>
        bounds.get(name) match {
          case Some((mn, mx)) if statless(st, b.rowCount) =>
            name -> ColumnStats(Some(mn), Some(mx), st.nullCount)
          case _ => name -> st
        }
      })
    }
}
