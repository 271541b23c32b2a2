package opbench

import java.util.EnumSet
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{CreateFlag, FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, LocatedFileStatus, Options, Path, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** `file://` filesystem that counts the calls made into it. The traced
  * run registers it as `fs.file.impl`, so Spark, the file mover and
  * the fold all reach it through `Path.getFileSystem`. Renames are
  * split by what they move: `rename` counts files (one per file the
  * mover relocates), `rename_dir` counts directories (the output
  * committer's task and partition-directory moves). */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem._

  override def rename(src: Path, dst: Path): Boolean = {
    if (pathToFile(src).isDirectory) tick("rename_dir") else tick("rename")
    super.rename(src, dst)
  }
  override def mkdirs(f: Path): Boolean = { tick("mkdirs"); super.mkdirs(f) }
  override def mkdirs(f: Path, p: FsPermission): Boolean = {
    tick("mkdirs"); super.mkdirs(f, p)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    tick("list"); super.listStatus(f)
  }
  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] = {
    tick("list"); super.listStatusIterator(f)
  }
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    tick("list"); super.listLocatedStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    tick("get_status"); super.getFileStatus(f)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    tick("open"); super.open(f, bufferSize)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    tick("delete"); super.delete(f, recursive)
  }
  override def create(f: Path, p: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    tick("create")
    counted(super.create(f, p, overwrite, bufferSize, replication,
      blockSize, progress))
  }
  override def create(f: Path, p: FsPermission, flags: EnumSet[CreateFlag],
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable,
      checksumOpt: Options.ChecksumOpt): FSDataOutputStream = {
    tick("create")
    counted(super.create(f, p, flags, bufferSize, replication, blockSize,
      progress, checksumOpt))
  }
  override def createNonRecursive(f: Path, p: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    tick("create")
    counted(super.createNonRecursive(f, p, overwrite, bufferSize,
      replication, blockSize, progress))
  }
  override def createNonRecursive(f: Path, p: FsPermission,
      flags: EnumSet[CreateFlag], bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    tick("create")
    counted(super.createNonRecursive(f, p, flags, bufferSize, replication,
      blockSize, progress))
  }
}

object CountingLocalFileSystem {
  val Names: Seq[String] = Seq("rename", "rename_dir", "mkdirs", "list",
    "get_status", "open", "create", "delete", "bytes_written")
  private val counters: Map[String, AtomicLong] =
    Names.map(_ -> new AtomicLong).toMap
  /** Off between traced ops, so untraced ops in a traced run pay only
    * the flag read. */
  @volatile var enabled = false

  private def tick(name: String): Unit =
    if (enabled) counters(name).incrementAndGet(): Unit

  /** Wraps a created stream so its byte count is added on close. */
  private def counted(out: FSDataOutputStream): FSDataOutputStream =
    new FSDataOutputStream(out, null) {
      private var closed = false
      override def close(): Unit = {
        if (!closed && enabled) counters("bytes_written").addAndGet(getPos)
        closed = true
        super.close()
      }
    }

  def snapshot(): Map[String, Long] = counters.map { case (k, v) => k -> v.get }
}
