package ixbench

import java.net.URI
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Where the benchmark keeps its tables and the index metastore.
  *
  * Every path the program sees is `viewfs://ixbench/ixb/...`, mounted on a
  * directory of the checkout. The index stores each file's path, so the
  * index bytes must not depend on where the checkout lives: the mount
  * makes every stored path the same in every checkout. The mount target is
  * [[CountingFs]], the local filesystem under its own scheme, which counts
  * the calls the program makes into it.
  */
object BenchFs {
  val Scheme = "ixbfile"
  val Root = "viewfs://ixbench/ixb"
  def metastore: String = s"$Root/meta"
  def table(name: String): String = s"$Root/data/$name"

  /** Hadoop settings that mount `localDir` at [[Root]]. */
  def hadoopConf(localDir: java.io.File): Map[String, String] = Map(
    "fs.viewfs.mounttable.ixbench.link./ixb" ->
      s"$Scheme://${localDir.getAbsolutePath}",
    s"fs.$Scheme.impl" -> classOf[CountingFs].getName,
  )

  /** The path below the mount root, the same for a viewfs path and the
    * mount target's own path of one file. */
  def relative(path: String): String = {
    val i = path.indexOf("/data/")
    if (i < 0) path else path.substring(i + 1)
  }
}

/** Calls into the mounted filesystem, split by area: the index metastore
  * (`meta/`) and the tables (`data/`). Opens of data files are kept by
  * path, so a query's scan can be checked against the files that hold its
  * answer. */
object FsCounters {
  val metaOps = new AtomicLong
  val dataOps = new AtomicLong
  val dataOpens = new AtomicLong
  private val opened = ConcurrentHashMap.newKeySet[String]()

  private def isMeta(p: Path): Boolean = p.toUri.getPath.contains("/meta")

  def op(p: Path): Unit =
    if (isMeta(p)) metaOps.incrementAndGet() else dataOps.incrementAndGet()

  def open(p: Path): Unit = {
    op(p)
    val s = p.toUri.getPath
    if (!isMeta(p) && !s.endsWith(".crc")) {
      dataOpens.incrementAndGet()
      opened.add(BenchFs.relative(s))
    }
  }

  /** Data files opened since the last call, as paths below the root. */
  def takeOpened(): Set[String] = {
    val out = Set.newBuilder[String]
    val it = opened.iterator()
    while (it.hasNext) { out += it.next(); it.remove() }
    out.result()
  }
}

/** The raw local filesystem under [[BenchFs.Scheme]]. Its statuses carry
  * default permissions: the local status type loads them through a
  * `file:` URI, which this scheme is not. */
class CountingRawFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create(BenchFs.Scheme + ":///")
  override def getScheme: String = BenchFs.Scheme

  private def plain(s: FileStatus): FileStatus =
    new FileStatus(s.getLen, s.isDirectory, s.getReplication, s.getBlockSize,
      s.getModificationTime, s.getAccessTime,
      if (s.isDirectory) FsPermission.getDirDefault else FsPermission.getFileDefault,
      "", "", s.getPath)

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    FsCounters.open(f)
    super.open(f, bufferSize)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    FsCounters.op(f)
    super.listStatus(f).map(plain)
  }
  override def getFileStatus(f: Path): FileStatus = {
    FsCounters.op(f)
    plain(super.getFileStatus(f))
  }
  override def getFileLinkStatus(f: Path): FileStatus = {
    FsCounters.op(f)
    plain(super.getFileLinkStatus(f))
  }
}

/** The checksummed local filesystem (what `file://` is) over
  * [[CountingRawFs]]. */
class CountingFs extends LocalFileSystem(new CountingRawFs) {
  override def getScheme: String = BenchFs.Scheme
}
