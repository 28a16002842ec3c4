package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft `SparkSession` is configured: [[local]] is
  * the builder every main ([[Bench]], [[Verify]], the measurement
  * mains) and the test suite start from, and [[tuned]] holds the
  * session-level performance settings it applies.
  *
  * The tuned settings are HOST knobs, not plan knobs: they change
  * where scratch bytes land, how local files are written and how much
  * generated code the JVM may cache / share, never what any query
  * computes — and each is overridable so a different deployment sizes
  * them to its own hardware and tenancy.
  *
  *  - `spark.sql.codegen.cache.maxEntries` (default 100): a session
  *    that executes hundreds of distinct physical plans — this bench's
  *    256 queries, the multi-wave streaming pipelines' per-wave plans —
  *    blows through a 100-entry LRU and re-runs Janino constantly.
  *    Primitive literals in filters and projections no longer make
  *    fresh source (graft.plans.BindPrimitiveLiterals binds them
  *    through the generated class's references), but values inlined
  *    by other operators and the distinct plan shapes still do.
  *    Stack-sampling q246 showed ~37% of active executor samples
  *    inside `CodeGenerator.compile`. 8192 entries
  *    (~a few KB of bytecode each, bounded tens of MB) keeps every
  *    warm plan cached; measured q246 median 21.8 → 16.6 s combined
  *    with the scratch move below. Production serving sessions have
  *    the same many-plans profile, so the setting is not a local-mode
  *    trick; it IS JVM-memory-sized, hence the env override.
  *  - `spark.local.dir`: shuffle blocks, block-manager spill and
  *    broadcast scratch. The bench host's /tmp is the same spinning
  *    device the lake fixtures hammer; RAM-backed /dev/shm removes
  *    that contention for the (tiny, bounded) shuffle scratch of a
  *    local run. On a production cluster this is the standard
  *    "shuffle on the fast local device" placement (NVMe/ramdisk) —
  *    set SPARK_GRAFT_LOCAL_DIR to size it to the deployment; unset
  *    AND no usable /dev/shm falls back to Spark's default.
  *
  * Explicit `-Dspark.*` system properties win over both defaults (the
  * SparkConf load order already honors them; we only fill gaps).
  */
object SessionTuning {

  /** `SPARK_GRAFT_CPUS` as a positive integer, `default` when unset.
    * Anything else fails loudly: the value sizes the local master and
    * the shuffle partitions and is echoed into the bench JSON, where a
    * non-number would silently corrupt the artifact. */
  def envCpus(default: Int = 4): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default) { s =>
      s.trim.toIntOption.filter(_ > 0).getOrElse(
        throw new IllegalArgumentException(
          s"SPARK_GRAFT_CPUS must be a positive integer, got '$s'"))
    }

  /** The shared local session builder: `local[cpus]` with as many
    * shuffle partitions, the graft SQL extensions, UTC session time,
    * nanosecond parquet timestamps read as longs, no UI, and the
    * [[tuned]] host settings. Callers add their own extras (app name,
    * catalogs) and call `getOrCreate()`. */
  def local(cpus: Int): SparkSession.Builder =
    tuned(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false"))

  /** Apply the tuned defaults to `b`, skipping any key the caller
    * already pinned via system property (spark-submit --conf / -D). */
  def tuned(b: SparkSession.Builder): SparkSession.Builder = {
    var out = b
    if (!sys.props.contains("spark.sql.codegen.cache.maxEntries"))
      out = out.config("spark.sql.codegen.cache.maxEntries",
        sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "8192"))
    // Spark 4's codegen cache is keyed by (weak classloader, source):
    // every StreamingQuery run executes on a CLONED session whose
    // artifact manager gets a fresh isolated classloader, so each
    // stream start() re-Janino-compiles every plan it runs — measured
    // 96-211 recompiles PER REP on the multi-wave streaming queries
    // (q218/q230/q246), none on batch queries. This JVM is
    // single-tenant (no session-scoped artifacts are ever added), so
    // isolation buys nothing here; disabling it makes the cloned
    // sessions share the base classloader and the compile counts drop
    // to zero (q218 median 10.4 → 8.9 s). A multi-tenant Connect
    // server should leave it on — hence the sys-prop escape hatch.
    if (!sys.props.contains("spark.sql.artifact.isolation.enabled"))
      out = out.config("spark.sql.artifact.isolation.enabled", "false")
    // Local `file://` IO without per-file chmod forks or `.crc` shadow
    // files (see NoForkLocalFileSystem's scaladoc for the measured
    // fork counts). Session-wide: EVERY `file://` path this session
    // touches — scratch, fixtures, and manifest tables' data and
    // commit files alike — is written without checksums. HDFS/S3
    // deployments never resolve these classes.
    if (!sys.props.contains("spark.hadoop.fs.file.impl"))
      out = out.config("spark.hadoop.fs.file.impl",
        "graft.hadoop.NoForkLocalFileSystem")
    if (!sys.props.contains("spark.hadoop.fs.AbstractFileSystem.file.impl"))
      out = out.config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        "graft.hadoop.NoForkLocalFs")
    if (!sys.props.contains("spark.local.dir")) {
      // Size-guarded: tmpfs scratch is only selected when /dev/shm has
      // comfortable headroom for a LOCAL bench's bounded shuffle/spill
      // footprint (default 8 GiB, env-tunable). A host whose tmpfs is
      // small — or a real workload whose spill exceeds RAM — falls
      // back to Spark's default /tmp placement instead of filling
      // RAM-backed storage until ENOSPC/OOM.
      val minBytes = sys.env.get("SPARK_GRAFT_SHM_MIN_GB")
        .flatMap(g => scala.util.Try(g.toDouble).toOption)
        .getOrElse(8.0) * (1L << 30)
      val dir = sys.env.get("SPARK_GRAFT_LOCAL_DIR").orElse {
        val shm = new java.io.File("/dev/shm")
        if (shm.isDirectory && shm.canWrite &&
            shm.getUsableSpace >= minBytes)
          Some("/dev/shm/graft-spark-scratch")
        else None
      }
      dir.foreach { d =>
        // one `pid-<pid>` subdir per JVM: concurrent sessions (the
        // bench beside a test run) never share a scratch tree, and a
        // crash-killed run's tree is recognizable as dead by its pid
        val root = new java.io.File(d)
        if (root.isDirectory) sweepStale(root)
        val mine = new java.io.File(root,
          s"pid-${ProcessHandle.current().pid()}")
        mine.mkdirs()
        // Spark removes its own subdirs on a clean stop; the JVM's
        // delete-on-exit hook runs after that and drops the empty dir
        mine.deleteOnExit()
        out = out.config("spark.local.dir", mine.getPath)
      }
    }
    out
  }

  private val PidDir = """pid-(\d+)""".r

  /** Remove the `pid-N` scratch trees of processes that are no longer
    * alive — a crash-killed run's shuffle and block-manager trees hold
    * RAM on tmpfs until removed. Liveness is the process table, never file
    * age: a live run's tree survives however long it sits idle, and a
    * dead run's goes at the next session start. Anything not named
    * `pid-N` is left alone. Best effort: a race with another sweeper
    * only loses a delete. */
  private[graft] def sweepStale(root: java.io.File): Unit =
    Option(root.listFiles()).getOrElse(Array.empty).foreach { f =>
      f.getName match {
        case PidDir(pid) if pid.toLongOption.exists(p =>
            !ProcessHandle.of(p).filter(_.isAlive).isPresent) =>
          deleteRec(f)
        case _ => ()
      }
    }

  private def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRec)
    f.delete()
    ()
  }
}
