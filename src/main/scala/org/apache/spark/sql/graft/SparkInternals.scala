/*
 * Shim exposing the handful of Spark-internal APIs the graft index engine
 * needs. Lives under org.apache.spark.sql so that `private[sql]` members are
 * reachable — the same approach the reference takes for its whole codebase
 * (see /root/reference src layout under org.apache.spark.sql.execution);
 * unlike the reference we confine it to this single file.
 */
package org.apache.spark.sql.graft

import org.apache.hadoop.fs.{FileStatus, Path}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.datasources.{DataSourceStrategy, FileFormat, FileIndex, HadoopFsRelation, InMemoryFileIndex, PartitionDirectory, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.StructType

object SparkInternals {

  /** Catalyst predicate expression → data-source filter (None if not
    * translatable). Mirrors what FileSourceStrategy pushes to scans.
    * Nested pushdown ON: a predicate on `payload.user_id` arrives as a
    * dotted attribute — exactly the key the index schema stores for a
    * nested leaf, so the filter fold binds on it directly. Filters whose
    * dotted attribute is NOT indexed are discarded by the caller's
    * indexed-columns check, same as any other unindexed column. */
  def translateFilter(e: Expression): Option[sources.Filter] =
    DataSourceStrategy.translateFilter(e, supportNestedPredicatePushdown = true)

  /** Compile a predicate over the given schema, binding attribute
    * references by (case-insensitive) name. */
  def compilePredicate(exprs: Seq[Expression], schema: StructType): InternalRow => Boolean = {
    if (exprs.isEmpty) return _ => true
    val bound = exprs.reduce(org.apache.spark.sql.catalyst.expressions.And).transform {
      case a: AttributeReference =>
        val idx = schema.fieldNames.indexWhere(_.equalsIgnoreCase(a.name))
        require(idx >= 0, s"partition column ${a.name} not in ${schema.fieldNames.mkString(",")}")
        BoundReference(idx, schema(idx).dataType, schema(idx).nullable)
    }
    val pred = Predicate.create(bound)
    pred.initialize(0)
    row => pred.eval(row)
  }

  def toAttributes(schema: StructType): Seq[Attribute] = DataTypeUtils.toAttributes(schema)

  def wrap(e: Expression): Column = ExpressionUtils.column(e)
  def unwrap(c: Column): Expression = ExpressionUtils.expression(c)

  /** Execute a logical plan as a DataFrame (Dataset.ofRows is
    * private[sql]) — used to run graft SQL command plans from sessions
    * whose parser extension is not installed. */
  def runPlan(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  def partitionDirectory(values: InternalRow, files: Array[FileStatus]): PartitionDirectory =
    PartitionDirectory(values, files)

  /** Pre-wrapped (possibly lazy) files seq — no per-file copy. */
  def partitionDirectory(
      values: InternalRow,
      files: Seq[org.apache.spark.sql.execution.datasources.FileStatusWithMetadata])
      : PartitionDirectory =
    PartitionDirectory(values, files)

  /** Build a DataFrame over a custom FileIndex backed by the given file
    * format ("parquet" | "orc") — the relation assembly the reference does
    * at IndexedDataSource.scala:80-86, generalized across sources. */
  def fsRelation(
      spark: SparkSession,
      location: FileIndex,
      partitionSchema: StructType,
      dataSchema: StructType,
      options: Map[String, String],
      source: String): DataFrame = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val fileFormat = source match {
      case "orc" => new org.apache.spark.sql.execution.datasources.orc.OrcFileFormat()
      case _ => new ParquetFileFormat()
    }
    val relation = HadoopFsRelation(
      location = location,
      partitionSchema = partitionSchema,
      dataSchema = dataSchema.asNullable,
      bucketSpec = None,
      fileFormat = fileFormat,
      options = options)(classic)
    classic.baseRelationToDataFrame(relation)
  }

  def parquetRelation(
      spark: SparkSession,
      location: FileIndex,
      partitionSchema: StructType,
      dataSchema: StructType,
      options: Map[String, String]): DataFrame =
    fsRelation(spark, location, partitionSchema, dataSchema, options, "parquet")

  /** Spark StructType of an ORC file schema (executor-safe pure
    * conversion). */
  def orcSparkSchema(td: org.apache.orc.TypeDescription): StructType =
    org.apache.spark.sql.execution.datasources.orc.OrcUtils.toCatalystSchema(td)

  /** Driver-side file listing + Hive-style partition discovery for a table
    * root, via Spark's own InMemoryFileIndex. Returns (partitionSchema,
    * Seq[(partitionValues, partitionValueStrings, files)]). */
  def discoverTable(spark: SparkSession, root: Path)
      : (StructType, Seq[(InternalRow, Seq[FileStatus])]) =
    discoverTable(spark, Seq(root))

  /** Multi-root listing + partition discovery: InMemoryFileIndex treats
    * every root as a partition-discovery base path, so `k=v` layouts
    * under each root merge into one partition spec (files of equal
    * tuples across roots share a PartitionDirectory). */
  def discoverTable(spark: SparkSession, roots: Seq[Path])
      : (StructType, Seq[(InternalRow, Seq[FileStatus])]) = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val idx = new InMemoryFileIndex(classic, roots, Map.empty, None)
    val partitionSchema = idx.partitionSpec().partitionColumns
    val dirs = idx.listFiles(Nil, Nil).map { pd =>
      (pd.values, pd.files.map(_.fileStatus))
    }
    (partitionSchema, dirs)
  }

  /** Hive path-segment unescape (`%xx` decoding) — executor-safe public
    * bridge to Spark's own implementation, so distributed listings parse
    * `k=v` dirs exactly as InMemoryFileIndex would. */
  def unescapePathName(s: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(s)

  /** Block locations of a listed file (present when the listing produced
    * LocatedFileStatus — e.g. HDFS; empty on plain FileStatus). */
  def blockLocations(f: FileStatus): Seq[graft.index.BlockLoc] = f match {
    case l: org.apache.hadoop.fs.LocatedFileStatus =>
      l.getBlockLocations.toSeq.map(b =>
        graft.index.BlockLoc(b.getOffset, b.getLength, b.getHosts.toSeq.filterNot(_ == "localhost")))
    case _ => Nil
  }

  /** Merge two file schemas (type widening + new-field append), preserving
    * per-field metadata from the left/first occurrence — the reference's
    * ParquetSchemaUtils.merge (:98-124) via Spark's own StructType.merge. */
  def mergeSchemas(a: StructType, b: StructType): StructType = a.merge(b)

  /** Spark StructType of one parquet footer: prefer the Spark schema JSON
    * the writer persisted in key-value metadata (field metadata
    * round-trips), else convert the parquet MessageType. Executor-safe. */
  def footerSparkSchema(
      kvMeta: java.util.Map[String, String],
      msg: org.apache.parquet.schema.MessageType): StructType = {
    Option(kvMeta.get("org.apache.spark.sql.parquet.row.metadata"))
      .flatMap { j =>
        scala.util.Try(
          org.apache.spark.sql.types.DataType.fromJson(j).asInstanceOf[StructType]).toOption
      }
      .getOrElse(
        new org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter()
          .convert(msg))
  }

  /** Spark's own reader of whole data files in `source` format ("parquet"
    * | "orc"), built on the driver and run on executors: (path, size,
    * mtime) => rows of `requiredSchema`. `dataSchema` is the table's
    * merged schema; a required column a file lacks reads as null. */
  def fileReader(
      spark: SparkSession,
      source: String,
      dataSchema: StructType,
      requiredSchema: StructType): (String, Long, Long) => Iterator[InternalRow] = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val format: FileFormat = source match {
      case "orc" => new org.apache.spark.sql.execution.datasources.orc.OrcFileFormat()
      case _ => new ParquetFileFormat()
    }
    val read = format.buildReaderWithPartitionValues(classic, dataSchema.asNullable,
      StructType(Nil), requiredSchema.asNullable, Nil,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), classic.sessionState.newHadoopConf())
    (path, size, mtime) => read(PartitionedFile(InternalRow.empty,
      org.apache.spark.paths.SparkPath.fromPathString(path), 0L, size, Array.empty[String],
      mtime, size, Map.empty))
  }

  /** Would Spark's file scan give files of `sizes` to one task? Each
    * file costs its size plus `spark.sql.files.openCostInBytes`, and a
    * task takes up to `spark.sql.files.maxPartitionBytes` (the bound
    * `FilePartition` packs scan tasks to). */
  def fitsOneScanTask(spark: SparkSession, sizes: Seq[Long]): Boolean = {
    val conf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.conf
    sizes.iterator.map(_ + conf.filesOpenCostInBytes).sum <= conf.filesMaxPartitionBytes
  }

  /** The calling thread's Spark job properties (job group, job tags,
    * scheduler pool, SQL execution scope) and active session, to run work
    * on another thread under, as Spark's own helper threads do. Spark
    * hands its properties to threads only when a thread is created, so a
    * pooled thread would otherwise run the jobs it starts outside the
    * caller's group and tags, beyond the reach of their cancellation. */
  final class JobProperties private[SparkInternals] (
      sc: Option[org.apache.spark.SparkContext], props: java.util.Properties,
      session: Option[SparkSession]) {
    /** Runs `body` with these properties and session, then restores the
      * thread's own. */
    def apply[T](body: => T): T = {
      val ownSession = SparkSession.getActiveSession
      val ownProps = sc.map(_.getLocalProperties)
      sc.foreach(_.setLocalProperties(org.apache.spark.util.Utils.cloneProperties(props)))
      session.foreach(SparkSession.setActiveSession)
      try body
      finally {
        ownSession.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
        for (c <- sc; p <- ownProps) c.setLocalProperties(p)
      }
    }
  }

  def callerJobProperties(): JobProperties = {
    val sc = org.apache.spark.SparkContext.getActive
    new JobProperties(sc,
      sc.map(c => org.apache.spark.util.Utils.cloneProperties(c.getLocalProperties)).orNull,
      SparkSession.getActiveSession)
  }

  /** Runs `body` on this thread as a task runs it: under a TaskContext of
    * its own, completed when `body` ends. Spark's file readers close
    * their files from completion listeners, so a reader left open by a
    * failing `body` is closed too. For executor work done on the driver.
    * The context's attempt id is the block manager's id for work outside
    * tasks (`BlockInfo.NON_TASK_WRITER`, private to Spark's storage
    * package), so the block locks `body` takes (a broadcast read, say) are
    * held and released as on any driver thread. */
  def asTask[T](body: => T): T = {
    val ctx = new org.apache.spark.TaskContextImpl(0, 0, 0,
      -1024L, 0, 1, null, new java.util.Properties,
      null, org.apache.spark.executor.TaskMetrics.empty, 1, Map.empty)
    org.apache.spark.TaskContext.setTaskContext(ctx)
    try {
      val out =
        try body
        catch {
          case e: Throwable =>
            try ctx.markTaskCompleted(Some(e)) catch { case c: Throwable => e.addSuppressed(c) }
            throw e
        }
      ctx.markTaskCompleted(None)
      out
    } finally org.apache.spark.TaskContext.unset()
  }

  /** The schema Spark infers for the one data file `file` of `source`
    * format ("parquet" | "orc"), without a job: its footer, read on the
    * driver and converted under the session's settings, as Spark's
    * inference does for a file it does not merge. Empty for an ORC file
    * without columns. */
  def fileSchema(spark: SparkSession, source: String, file: FileStatus): StructType = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val schema = source match {
      case "orc" =>
        org.apache.spark.sql.execution.datasources.orc.OrcUtils
          .readSchema(classic, Seq(file), Map.empty[String, String])
      case _ =>
        val input = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(
          file, classic.sessionState.newHadoopConf())
        val footer = org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader
          .readFooter(input,
            org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS)
        Some(ParquetFileFormat.readSchemaFromFooter(
          new org.apache.parquet.hadoop.Footer(file.getPath, footer),
          new org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter(
            classic.sessionState.conf)))
    }
    schema.getOrElse(StructType(Nil)).asNullable
  }

  /** The merged schema of `files` (nonempty) of `source` format, as
    * `Sources.read` infers it: for files that fit one scan task, each
    * file's [[fileSchema]] read on the driver and merged in order, without
    * a job; otherwise Spark's own inference, a job. */
  def filesSchema(spark: SparkSession, source: String, files: Seq[FileStatus]): StructType =
    if (fitsOneScanTask(spark, files.map(_.getLen))) {
      val caseSensitive = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sessionState.conf.caseSensitiveAnalysis
      files.map(fileSchema(spark, source, _)).reduce(_.merge(_, caseSensitive))
    } else graft.index.Sources.read(spark, source, files.map(_.getPath.toString)).schema

  /** A frame of no rows over `schema` (all fields nullable), for
    * resolving columns against it without a job. */
  def emptyFrame(spark: SparkSession, schema: StructType): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
        DataTypeUtils.toAttributes(schema.asNullable)))

  /** `cols` resolved against `frame` and bound to the fields they read:
    * returns those fields, in the frame's order, and the bound
    * expressions, evaluable over rows of them. */
  def bindColumns(frame: DataFrame, cols: Seq[Column]): (StructType, Seq[Expression]) = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeSeq, BindReferences}
    val exprs = frame.select(cols: _*).queryExecution.analyzed.expressions.map {
      case Alias(c, _) => c
      case e => e
    }
    val used = exprs.flatMap(_.references).map(_.exprId).toSet
    val required = frame.queryExecution.analyzed.output.filter(a => used(a.exprId))
    (DataTypeUtils.fromAttributes(required),
      exprs.map(BindReferences.bindReference(_, AttributeSeq(required))))
  }

  /** The partition size AQE coalesces `total` bytes of shuffle output
    * toward (ShufflePartitionsUtil.coalescePartitions): the advisory
    * size, or under `parallelismFirst` (the default) each minimum
    * partition's share if smaller, and never below the minimum size. */
  def coalesceTargetBytes(spark: SparkSession, total: Long): Long = {
    import org.apache.spark.sql.internal.SQLConf
    val conf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.conf
    val minPartitions =
      if (!conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST)) 1
      else conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_NUM)
        .getOrElse(spark.sparkContext.defaultParallelism)
    math.max(conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE),
      math.min(conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES),
        (total + minPartitions - 1) / minPartitions))
  }

  /** Counts a file the running task wrote outside Spark's writers in the
    * task's output metrics, as Spark's own writers count theirs. */
  def recordWrite(bytes: Long, records: Long): Unit =
    Option(org.apache.spark.TaskContext.get()).foreach { ctx =>
      val m = ctx.taskMetrics().outputMetrics
      m.setBytesWritten(m.bytesWritten + bytes)
      m.setRecordsWritten(m.recordsWritten + records)
    }

  /** Resolve a catalog table to (provider, location path). */
  def catalogTableInfo(spark: SparkSession, tableName: String): (String, Path) = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val ident = classic.sessionState.sqlParser.parseTableIdentifier(tableName)
    val meta = classic.sessionState.catalog.getTableMetadata(ident)
    val provider = meta.provider.getOrElse("")
    (provider, new Path(meta.location))
  }
}
