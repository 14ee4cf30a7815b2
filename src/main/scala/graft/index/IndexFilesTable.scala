package graft.index

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.{Group, GroupWriter}
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.hadoop.{ParquetReader, ParquetWriter}
import org.apache.parquet.hadoop.api.{ReadSupport, WriteSupport}
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.io.OutputFile
import org.apache.parquet.io.api.RecordConsumer
import org.apache.parquet.schema.{MessageType, MessageTypeParser}

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.types.StructType

/** Driver-side access to the `files` parquet table (one [[FileStatsRow]]
  * per data file, written by the stats pass's `writeFileStats`, through
  * [[write]] when the pass runs on the driver, together with the kept
  * rows when a refresh below the distributed threshold rewrites the
  * table; a refresh there that only removes files writes the kept rows
  * with [[write]] alone).
  *
  * Small tables (below the distributed-pruning threshold) are read once
  * per index directory into a process-wide cache and folded on the
  * driver; large tables never go through this path — their pruning runs
  * as a Spark job over the same parquet (see GraftFileIndex), so driver
  * residency stays O(survivors).
  */
object IndexFilesTable {

  /** The table's Spark schema. Every Spark read pins it, so no read pays
    * a schema-inference job; the columns are unchanged since the table
    * was introduced, so every index on disk has them. */
  val Schema: StructType = Encoders.product[FileStatsRow].schema

  /** The parquet schema Spark writes for [[Schema]]: primitives required,
    * strings optional. */
  private lazy val parquetSchema = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  required int32 partitionIdx;
      |  optional binary path (STRING);
      |  required int64 size;
      |  required int64 modificationTime;
      |  required int64 blockSize;
      |  optional binary locationsJson (STRING);
      |  optional binary schemaJson (STRING);
      |  optional binary blocksJson (STRING);
      |  required int64 rowCount;
      |}""".stripMargin)

  /** Bounded dir→rows cache (same cap as the metastore catalog cache);
    * only small-table reads go through it. Each entry is tagged with the
    * metadata instance it was read for, and serves only that instance:
    * a reader whose metadata was reloaded (an external refresh, a TTL of
    * 0) reads the rows that go with it. An entry also holds the rows as
    * [[FileRow]]s grouped by partitionIdx, parsed on first use, so every
    * GraftFileIndex over the same committed index (one per
    * `spark.index.parquet`) shares one parse of the block stats; a
    * commit's hand-over installs a fresh entry, whose rows parse once
    * for the new metadata.
    *
    * An entry is also tagged with its dir's [[invalidate]] count when
    * its rows were read, and serves only while that count holds: rows
    * a scan read before an invalidation (a commit's swap, a
    * GraftFileIndex refresh) and installed after it are never served,
    * as a GraftFileIndex's memos are epoch-guarded. */
  private val MaxCached = 16
  private final class Entry(val meta: IndexMetadata, val rows: Seq[FileStatsRow],
      val generation: Long) {
    lazy val byPartition: Map[Int, Seq[FileRow]] =
      rows.groupBy(_.partitionIdx).view.mapValues(_.map(FileRow(_))).toMap
  }
  private val cache = new TrieMap[String, Entry]()
  /** dir → its [[invalidate]] count (one counter per dir ever invalidated). */
  private val invalidations = new TrieMap[String, java.util.concurrent.atomic.AtomicLong]()
  private def generation(dir: String): Long = invalidations.get(dir).fold(0L)(_.get)

  private def scan[A](dir: Path, conf: Configuration)(row: FileStatsRow => A): Seq[A] = {
    val out = Seq.newBuilder[A]
    readGroups(dir, conf) { g =>
      out += row(FileStatsRow(
        partitionIdx = g.getInteger("partitionIdx", 0),
        path = g.getString("path", 0),
        size = g.getLong("size", 0),
        modificationTime = g.getLong("modificationTime", 0),
        blockSize = g.getLong("blockSize", 0),
        locationsJson = g.getString("locationsJson", 0),
        schemaJson = g.getString("schemaJson", 0),
        blocksJson = g.getString("blocksJson", 0),
        rowCount = g.getLong("rowCount", 0)))
    }
    out.result()
  }

  /** Every record of the parquet file or table dir `path` (its visible
    * part files, by name; nothing if it does not exist), as a Group, to
    * `f`; `filter` prunes row groups and records. Each file opens as an
    * InputFile under `conf`: the Path-based reader builder parses a fresh
    * Hadoop Configuration per call, about 10 ms each. */
  private[index] def readGroups(path: Path, conf: Configuration,
      filter: FilterCompat.Filter = FilterCompat.NOOP)(f: Group => Unit): Unit = {
    val fs = path.getFileSystem(conf)
    val files =
      if (!fs.exists(path)) Nil
      else if (!fs.getFileStatus(path).isDirectory) Seq(path)
      else fs.listStatus(path).toSeq.map(_.getPath)
        .filter(p => !p.getName.startsWith("_") && !p.getName.startsWith("."))
        .sortBy(_.getName)
    files.foreach { p =>
      val reader = new ParquetReader.Builder[Group](HadoopInputFile.fromPath(p, conf)) {
        override protected def getReadSupport(): ReadSupport[Group] = new GroupReadSupport()
      }.withFilter(filter).build()
      try {
        var g = reader.read()
        while (g != null) { f(g); g = reader.read() }
      } finally reader.close()
    }
  }

  private def entry(dir: Path, meta: IndexMetadata, conf: Configuration): Entry = {
    val gen = generation(dir.toString)
    cache.get(dir.toString) match {
      case Some(e) if (e.meta eq meta) && e.generation == gen => e
      case _ => install(dir, new Entry(meta, scan(dir, conf)(identity), gen))
    }
  }

  def readAll(dir: Path, meta: IndexMetadata, conf: Configuration): Seq[FileStatsRow] =
    entry(dir, meta, conf).rows

  /** The rows of [[readAll]] as [[FileRow]]s grouped by partitionIdx,
    * parsed once per cache entry. */
  def rowsByPartition(dir: Path, meta: IndexMetadata,
      conf: Configuration): Map[Int, Seq[FileRow]] =
    entry(dir, meta, conf).byPartition

  /** Installs `rows` as the table in `dir` for `meta`: a commit hands
    * over the rows it just wrote. */
  private[index] def handOver(dir: Path, meta: IndexMetadata, rows: Seq[FileStatsRow]): Unit = {
    install(dir, new Entry(meta, rows, generation(dir.toString)))
    ()
  }

  private def install(dir: Path, e: Entry): Entry = {
    if (!cache.contains(dir.toString) && cache.size >= MaxCached) {
      cache.headOption.foreach(e => cache.remove(e._1))
    }
    cache.put(dir.toString, e)
    e
  }

  /** The rows cached for `meta`, if any. */
  private[index] def cached(dir: Path, meta: IndexMetadata): Option[Seq[FileStatsRow]] =
    cache.get(dir.toString).collect {
      case e if (e.meta eq meta) && e.generation == generation(dir.toString) => e.rows
    }

  /** Every row, read past the cache: a refresh diffs against the table
    * on disk, never against what some reader cached earlier. */
  def readUncached(dir: Path, conf: Configuration): Seq[FileStatsRow] =
    scan(dir, conf)(identity)

  /** Streaming path-only read — never cached (safe for huge tables, e.g.
    * FileIndex.inputFiles above the distributed-pruning threshold). */
  def readPaths(dir: Path, meta: IndexMetadata, conf: Configuration): Seq[String] =
    cached(dir, meta) match {
      case Some(rows) => rows.map(_.path)
      case None => scan(dir, conf)(_.path)
    }

  /** Write `rows`, in their order, as ONE part file in `dir` — the layout
    * Spark's writer gives the same rows (schema, snappy, Spark schema in
    * the footer), without a Spark job. */
  def write(dir: Path, rows: Seq[FileStatsRow], conf: Configuration): Unit = {
    val file = new Path(dir, s"part-00000-${java.util.UUID.randomUUID()}-c000.snappy.parquet")
    val writer = groupWriter(file, parquetSchema,
      java.util.Map.of("org.apache.spark.sql.parquet.row.metadata", Schema.json), conf)
    try rows.foreach { r =>
      val g = new SimpleGroup(parquetSchema)
      g.add("partitionIdx", r.partitionIdx)
      g.add("path", r.path)
      g.add("size", r.size)
      g.add("modificationTime", r.modificationTime)
      g.add("blockSize", r.blockSize)
      g.add("locationsJson", r.locationsJson)
      g.add("schemaJson", r.schemaJson)
      g.add("blocksJson", r.blocksJson)
      g.add("rowCount", r.rowCount)
      writer.write(g)
    } finally writer.close()
  }

  /** A snappy parquet writer of `schema` Groups to `file`, with
    * `metadata` as the footer's key-value entries and, as in the files
    * Spark writes, no parquet-mr `writer.model.name` entry. */
  private[index] def groupWriter(file: Path, schema: MessageType,
      metadata: java.util.Map[String, String], conf: Configuration): ParquetWriter[Group] =
    new GroupWriterBuilder(HadoopOutputFile.fromPath(file, conf), schema)
      .withConf(conf)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withExtraMetaData(metadata)
      .build()

  private final class GroupWriterBuilder(file: OutputFile, schema: MessageType)
      extends ParquetWriter.Builder[Group, GroupWriterBuilder](file) {
    override protected def self(): GroupWriterBuilder = this
    override protected def getWriteSupport(conf: Configuration): WriteSupport[Group] =
      new WriteSupport[Group] {
        private var writer: GroupWriter = _
        override def init(conf: Configuration): WriteSupport.WriteContext =
          new WriteSupport.WriteContext(schema, new java.util.HashMap[String, String]())
        override def prepareForWrite(consumer: RecordConsumer): Unit =
          writer = new GroupWriter(consumer, schema)
        override def write(g: Group): Unit = writer.write(g)
      }
  }

  /** Drops `dir`'s entry, and any a scan begun before this call installs. */
  def invalidate(dir: Path): Unit = {
    // count first: an install that lands after the remove carries the old count
    invalidations.getOrElseUpdate(dir.toString, new java.util.concurrent.atomic.AtomicLong)
      .incrementAndGet()
    cache.remove(dir.toString)
    ()
  }
}
