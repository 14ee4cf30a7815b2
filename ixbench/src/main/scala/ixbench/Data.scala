package ixbench

import java.io.File

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.{MessageType, MessageTypeParser}

/** Writes generated tables straight to Parquet, with contents, names and
  * modification times that depend only on the seed, so the index built
  * over them is byte-identical from run to run and from checkout to
  * checkout. */
object Data {
  /** Every data file's modification time. */
  val Mtime: Long = 1700000000000L

  /** A deterministic 64-bit hash of (seed, id, salt) (SplitMix64). */
  def mix(seed: Long, id: Long, salt: Int): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + id * 0xBF58476D1CE4E5B9L + salt * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** A value in [0, n) drawn from (seed, id, salt). */
  def uniform(seed: Long, id: Long, salt: Int, n: Long): Long = Math.floorMod(mix(seed, id, salt), n)

  /** A Parquet schema plus the row of each id, as values in schema order:
    * Long (int64), Int (int32, DATE as epoch days) or String. */
  final case class Table(schema: String, row: Long => Array[Any]) {
    lazy val messageType: MessageType = MessageTypeParser.parseMessageType(schema)
  }

  /** Writes rows `ids` of `t` to `file` (snappy, as Spark writes) and pins
    * its modification time. */
  def write(t: Table, ids: Iterator[Long], file: File): Unit = {
    file.getParentFile.mkdirs()
    val mt = t.messageType
    val names = (0 until mt.getFieldCount).map(mt.getFieldName).toArray
    val groups = new SimpleGroupFactory(mt)
    val w = ExampleParquetWriter.builder(new LocalOutputFile(file.toPath))
      .withType(mt)
      .withConf(new Configuration(false))
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .build()
    try ids.foreach { id =>
      val g = groups.newGroup()
      val vals = t.row(id)
      var i = 0
      while (i < vals.length) {
        vals(i) match {
          case l: Long => g.append(names(i), l)
          case n: Int => g.append(names(i), n)
          case s: String => g.append(names(i), s)
          case other => throw new IllegalArgumentException(s"unsupported value $other")
        }
        i += 1
      }
      w.write(g)
    } finally w.close()
    pin(file)
  }

  /** Runs `f(0)` .. `f(n - 1)` on the common fork-join pool. */
  def parallel(n: Int)(f: Int => Unit): Unit =
    java.util.stream.IntStream.range(0, n).parallel().forEach(i => f(i))

  def pin(f: File): Unit = require(f.setLastModified(Mtime), s"cannot set mtime of $f")

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  /** Bytes of the regular files under `dir`, without checksum side files. */
  def bytes(dir: File): Long =
    if (dir.isDirectory) Option(dir.listFiles()).map(_.map(bytes).sum).getOrElse(0L)
    else if (dir.getName.endsWith(".crc")) 0L
    else dir.length()
}
