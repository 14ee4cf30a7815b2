package graft.index

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.types.StructType

/** Driver-side access to the `files` parquet table (one [[FileStatsRow]]
  * per data file, written by [[StatisticsBuilder.writeFileStats]], or by
  * [[write]] when a refresh below the distributed threshold builds the
  * rows on the driver).
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
    * only small-table reads go through it. */
  private val MaxCached = 16
  private val cache = new TrieMap[String, Seq[FileStatsRow]]()

  private def scan[A](dir: Path, conf: Configuration)(row: FileStatsRow => A): Seq[A] = {
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir)) Nil
    else {
      val out = Seq.newBuilder[A]
      val reader = ParquetReader.builder(new GroupReadSupport(), dir).withConf(conf).build()
      try {
        var g = reader.read()
        while (g != null) {
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
          g = reader.read()
        }
      } finally reader.close()
      out.result()
    }
  }

  def readAll(dir: Path, conf: Configuration): Seq[FileStatsRow] =
    cache.getOrElseUpdate(dir.toString, {
      if (cache.size >= MaxCached) cache.headOption.foreach(e => cache.remove(e._1))
      scan(dir, conf)(identity)
    })

  /** Every row, read past the cache: a refresh diffs against the table
    * on disk, never against what some reader cached earlier. */
  def readUncached(dir: Path, conf: Configuration): Seq[FileStatsRow] =
    scan(dir, conf)(identity)

  /** Streaming path-only read — never cached (safe for huge tables, e.g.
    * FileIndex.inputFiles above the distributed-pruning threshold). */
  def readPaths(dir: Path, conf: Configuration): Seq[String] =
    cache.get(dir.toString) match {
      case Some(rows) => rows.map(_.path)
      case None => scan(dir, conf)(_.path)
    }

  /** Write `rows`, in their order, as ONE part file in `dir` — the layout
    * Spark's writer gives the same rows (schema, snappy, Spark schema in
    * the footer), without a Spark job. */
  def write(dir: Path, rows: Seq[FileStatsRow], conf: Configuration): Unit = {
    val file = new Path(dir, s"part-00000-${java.util.UUID.randomUUID()}-c000.snappy.parquet")
    val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(file, conf))
      .withType(parquetSchema)
      .withConf(conf)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withExtraMetaData(java.util.Map.of("org.apache.spark.sql.parquet.row.metadata", Schema.json))
      .build()
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

  def invalidate(dir: Path): Unit = { cache.remove(dir.toString); () }
}
