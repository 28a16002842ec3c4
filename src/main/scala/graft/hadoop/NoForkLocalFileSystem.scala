package graft.hadoop

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** `file://` filesystem for LOCAL scratch that never forks a child
  * process.
  *
  * Hadoop's `RawLocalFileSystem` applies the requested permission to
  * every created file and directory; without the native `libhadoop`
  * JNI (absent from the Spark-distribution jars this build runs
  * against), `setPermission` falls back to `Shell.execCommand` — a
  * full fork/exec of `/bin/chmod` PER CREATED FILE. The default
  * `file.impl` (`LocalFileSystem`) additionally shadows every data
  * file with a `.crc` file, doubling the creates. Measured on
  * q246_drift_gated_build: ~2400 forks per execution (warm-up + 1 rep
  * = 4922 forks), with `Shell.runCommand` holding ~30% of stream-thread
  * stack samples.
  *
  * The permission Hadoop chmods to is `getFileDefault().applyUMask
  * (umask)` — i.e. 666 minus the configured umask, which is exactly
  * what the kernel already applies to a plain `FileOutputStream`
  * create under the same process umask. Skipping the chmod is
  * therefore behavior-identical whenever `fs.permissions.umask-mode`
  * matches the process umask (both default 022 here), and the CRC
  * shadow files are a local-FS integrity emulation that real
  * deployments (HDFS/S3, which never hit this class — the scheme is
  * `file` only) provide at the storage layer.
  *
  * It IS a `LocalFileSystem` (checksums neither written nor verified)
  * rather than a bare raw filesystem, because Hadoop's
  * `FileSystem.getLocal` casts the `file://` instance to
  * `LocalFileSystem` — Spark's RocksDB state store uploads its
  * checkpoint files through that call.
  *
  * Wired by [[graft.SessionTuning]] behind sys-prop escape hatches;
  * a deployment that needs checksummed or permissioned local files
  * sets `-Dspark.hadoop.fs.file.impl=org.apache.hadoop.fs.LocalFileSystem`.
  */
class NoForkLocalFileSystem extends LocalFileSystem(new NoForkRawLocalFileSystem) {
  override def initialize(name: URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    setWriteChecksum(false)
    setVerifyChecksum(false)
  }
}

/** The raw `file://` filesystem minus the per-file chmod fork. */
class NoForkRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = ()
}

/** The `AbstractFileSystem` (FileContext) face of the same choice —
  * structured streaming's `FileContextBasedCheckpointFileManager`
  * resolves `fs.AbstractFileSystem.file.impl` (default `LocalFs` =
  * ChecksumFs over RawLocalFs), so checkpoint offset/commit logs pay
  * the same per-file chmod fork and `.crc` shadow write per batch.
  * Constructor signature `(URI, Configuration)` is the reflection
  * contract of `AbstractFileSystem.createFileSystem`. */
class NoForkLocalFs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(
    uri, new NoForkRawLocalFileSystem, conf, "file", false)
