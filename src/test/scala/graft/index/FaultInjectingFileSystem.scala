package graft.index

import java.io.IOException
import java.net.URI
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** A `faultfs:` scheme over the local disk that records every call that
  * mutates the store (create, mkdirs, delete, rename) and, apart, every
  * open, and fails the calls a test names (those, plus open and
  * listStatus): a stand-in for a store whose calls can fail one at a
  * time. */
class FaultInjectingFileSystem extends RawLocalFileSystem {
  import FaultInjectingFileSystem._

  override def getScheme: String = "faultfs"
  override def getUri: URI = URI.create("faultfs:///")

  private def call(op: String, p: Path): Unit = {
    if (op == "open") opened.add(p.toString)
    else if (op != "list") calls.add(op -> p.toString)
    if (failOn(op, p.toString)) throw new IOException(s"injected $op failure on $p")
  }

  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    call("create", f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    call("create", f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def createNonRecursive(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    call("create", f)
    super.createNonRecursive(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def mkdirs(f: Path): Boolean = { call("mkdirs", f); super.mkdirs(f) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    call("mkdirs", f)
    super.mkdirs(f, permission)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    call("delete", f)
    super.delete(f, recursive)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    call("rename", src)
    super.rename(src, dst)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    call("open", f)
    super.open(f, bufferSize)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    call("list", f)
    super.listStatus(f)
  }
}

object FaultInjectingFileSystem {
  /** (op, path) → fail the call; op is one of create, mkdirs, delete,
    * rename, open, list. */
  @volatile var failOn: (String, String) => Boolean = (_, _) => false
  /** The mutating calls made so far, in order: (op, path). */
  val calls = new ConcurrentLinkedQueue[(String, String)]()
  /** The paths opened so far, in order. */
  val opened = new ConcurrentLinkedQueue[String]()

  def drain(): Seq[(String, String)] = drain(calls)

  def drainOpened(): Seq[String] = drain(opened)

  private def drain[A](q: ConcurrentLinkedQueue[A]): Seq[A] = {
    val b = Seq.newBuilder[A]
    var c = q.poll()
    while (c != null) { b += c; c = q.poll() }
    b.result()
  }
}
