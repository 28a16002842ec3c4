package graft

import java.io.IOException
import java.net.URI
import java.util.EnumSet
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{CreateFlag, FSDataOutputStream, FileStatus, FilterFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

import graft.hadoop.NoForkRawLocalFileSystem

/** Test-only `crashfs://` file system: the raw local file system with
  * every mutation (create, rename, delete, mkdirs) counted by one
  * JVM-wide counter. [[CrashPointFileSystem.crashAfter]]`(n)` lets the
  * next `n` mutations through and fails every one after them with an
  * `IOException` until [[CrashPointFileSystem.reset]]: a process that
  * died at that step, whose half-done state the next process finds.
  * Register it with `fs.crashfs.impl` on the session's Hadoop conf. */
class CrashPointFileSystem extends FilterFileSystem(
    new CrashPointRawFileSystem) {
  import CrashPointFileSystem.mutate

  override def create(f: Path, permission: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    mutate("create", f)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }

  override def create(f: Path, permission: FsPermission,
      flags: EnumSet[CreateFlag], bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable,
      checksumOpt: Options.ChecksumOpt): FSDataOutputStream = {
    mutate("create", f)
    super.create(f, permission, flags, bufferSize, replication,
      blockSize, progress, checksumOpt)
  }

  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: EnumSet[CreateFlag], bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    mutate("create", f)
    super.createNonRecursive(f, permission, flags, bufferSize,
      replication, blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    mutate("rename", src)
    super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    mutate("delete", f)
    super.delete(f, recursive)
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    mutate("mkdirs", f)
    super.mkdirs(f, permission)
  }

  override def mkdirs(f: Path): Boolean = {
    mutate("mkdirs", f)
    super.mkdirs(f)
  }
}

/** The raw local file system under the `crashfs` scheme. */
class CrashPointRawFileSystem extends NoForkRawLocalFileSystem {
  override def getUri: URI = CrashPointFileSystem.Uri

  // statuses with a fixed permission: the raw file system loads it
  // through java.io.File, which accepts `file:` URIs only
  private def plain(st: FileStatus): FileStatus =
    new FileStatus(st.getLen, st.isDirectory, st.getReplication,
      st.getBlockSize, st.getModificationTime, st.getAccessTime,
      FsPermission.getFileDefault, "", "", st.getPath)

  override def getFileStatus(f: Path): FileStatus =
    plain(super.getFileStatus(f))

  override def listStatus(f: Path): Array[FileStatus] =
    super.listStatus(f).map(plain)
}

object CrashPointFileSystem {
  val Uri: URI = URI.create("crashfs:///")

  private val count = new AtomicLong
  @volatile private var crashFrom = Long.MaxValue

  /** Mutations seen so far, crashed ones included. */
  def mutations: Long = count.get

  /** Let the next `n` mutations through; fail every later one. */
  def crashAfter(n: Long): Unit = crashFrom = count.get + n

  /** Stop failing mutations. */
  def reset(): Unit = crashFrom = Long.MaxValue

  private def mutate(op: String, p: Path): Unit =
    if (count.getAndIncrement() >= crashFrom)
      throw new IOException(s"injected crash: $op $p")
}
