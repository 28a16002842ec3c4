package graft.sources

import scala.collection.JavaConverters._
import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{Cast, EqualTo, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{DeleteFromTable, Filter, InsertStarAction, LogicalPlan, MergeIntoTable, UpdateStarAction}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.{coalesce, col, expr, lit, max, min, struct, to_json}
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.sources.{In, IsNull, Or, Filter => SFilter}

import graft.sources.connector.{ManifestConnector, ManifestTable, ManifestWriter}

/** Versioned manifest commit layer: the missing cross-partition
  * atomicity for the lake's upsert/compaction story (SURVEY §7 — the
  * last divergence `Catalog.mergeInto` left open).
  *
  * A table = a `data/` area of immutable parquet files + a
  * `_manifests/` directory of version files, each listing exactly the
  * data files that make up that snapshot:
  *
  * {{{
  *   <root>/data/c00000001/part-*.parquet     (files of commit 1)
  *   <root>/data/c00000002/part-*.parquet     (files of commit 2)
  *   <root>/_manifests/v00000001.txt          (file list of snapshot 1)
  *   <root>/_manifests/v00000002.txt
  * }}}
  *
  * Commit protocol (optimistic): write the new commit's data files
  * under a fresh `data/cN` dir, then CREATE `vN.txt` with
  * create-if-absent (O_EXCL) — one atomic create makes the whole
  * snapshot (spanning any number of partitions) visible at once, which
  * is precisely what dynamic partition overwrite cannot give. A racing
  * committer that created `vN.txt` first wins; the loser throws
  * (stale-version conflict) without having touched any live state —
  * its orphan data dir is cleaned by [[vacuum]]. A reader racing the
  * manifest write itself is fenced by the `#count` header: a torn read
  * (header present, fewer lines than promised) fails loudly instead of
  * silently scanning a partial snapshot.
  *
  * Readers resolve `latest` (max version present) or pin an explicit
  * version: time travel, and isolation from concurrent rewrites — a
  * merge or compaction only ADDS files and a new manifest; the files
  * a pinned snapshot references are immutable until a vacuum drops
  * snapshots older than the retention floor.
  *
  * All control-plane IO is Hadoop FileSystem (file://, hdfs://,
  * s3a://). The claim primitive is create-if-absent: POSIX O_EXCL on
  * file:// (NIO `CREATE_NEW` — `FileSystem.rename` on the local FS
  * silently OVERWRITES, so rename-based claims lose commits there),
  * `create(path, overwrite = false)` on HDFS. Plain S3 needs a
  * conditional put or a lock table for the same guarantee — the
  * protocol is unchanged, only the atomicity primitive moves.
  *
  * Scale: a manifest is O(files) text, read once per query on the
  * driver (the same metadata-scale read every table format does);
  * data-file IO is the ordinary distributed parquet scan over exactly
  * the listed files.
  */
object Manifest {

  final case class Snapshot(version: Long, files: Seq[String])

  /** One manifest line: a data file plus the metadata the commit
    * recorded for it. `size` lets reads plan with ZERO filesystem
    * calls (no listing, no getFileStatus); `stats` is the file's
    * column zone map ([[ManifestStats]] JSON: rows, per-column
    * min/max/null-count) consulted for file-level skipping at
    * planning (absent = no skipping for that file). */
  final case class FileEntry(path: String, size: Long,
                             stats: Option[String] = None,
                             seq: Option[Long] = None) {
    lazy val fileStats: Option[ManifestStats.FileStats] =
      stats.flatMap(ManifestStats.decode)
    /** Data sequence for merge-on-read: the version whose commit added
      * this file. A delete file applies to data files with a STRICTLY
      * smaller sequence (rows written after the delete are never
      * retro-deleted). Pre-`seq` manifests read as 0 — oldest, so
      * every delete applies: conservative-correct, since those files
      * predate the feature and therefore every delete commit. */
    def dataSeq: Long = seq.getOrElse(0L)
  }

  /** One merge-on-read equality-delete file: `path` holds the DISTINCT
    * key tuples (columns `keyCols`, table-typed) whose rows are deleted
    * from every data file with `dataSeq < seq`. Each scan task drops
    * the matching rows of its file, null-safe; [[rewriteDeletes]] /
    * [[compact]] materialize it away. O(deleted keys) to delete from a
    * 100 TB table — no data rewrite on the DELETE path at all. */
  final case class DeleteEntry(path: String, size: Long,
                               seq: Long, keyCols: Seq[String])

  private[graft] def fsOf(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def manifestDir(root: String) = s"$root/_manifests"
  private def vName(v: Long) = f"v$v%08d.txt"

  /** Is this manifest entry an ABSOLUTE scheme-qualified URI into
    * another table's root (a shallow clone's borrowed file) rather
    * than a path relative to this table? [[cloneTable]] writes
    * qualified URIs only, so the test is unambiguous — relative
    * entries always start with `data/`. */
  private[graft] def isForeignEntry(p: String): Boolean =
    p.contains("://") || p.matches("^[A-Za-z][A-Za-z0-9+.-]*:/.*")

  /** Resolve a manifest entry to its readable location: foreign
    * (clone-borrowed) entries are already absolute; local ones live
    * under this table's root. */
  private[graft] def absEntryPath(root: String, p: String): String =
    if (isForeignEntry(p)) p else s"$root/$p"

  /** A foreign entry's table-relative tail (`data/...`) — what it
    * would be named if it lived under this root (deep-clone copy
    * target, partition parsing). */
  private[graft] def relTailOf(p: String): String =
    if (!isForeignEntry(p)) p
    else {
      val i = p.lastIndexOf("/data/")
      if (i >= 0) p.substring(i + 1) else p
    }

  /** `data/c00000001-ab12/lang=de/part-0.parquet` → Seq(lang -> de).
    * Null partitions (`__HIVE_DEFAULT_PARTITION__`) map to null.
    * Foreign (clone-borrowed) absolute entries parse their tail under
    * the SOURCE's `data/` dir — same layout, same tuple. */
  def partValuesOf(relPath: String): Seq[(String, String)] =
    relTailOf(relPath).split('/').drop(2).dropRight(1).toSeq.flatMap {
      seg =>
        seg.split("=", 2) match {
          case Array(k, v) =>
            val uv = ExternalCatalogUtils.unescapePathName(v)
            Some(k ->
              (if (uv == "__HIVE_DEFAULT_PARTITION__") null else uv))
          case _ => None
        }
    }

  /** A partition path value ([[partValuesOf]]: hive-unescaped, null
    * for `__HIVE_DEFAULT_PARTITION__`) as the catalyst value of the
    * column's declared type — the one decoder behind every read's
    * partition columns ([[graft.sources.connector.ManifestConnector]]).
    * UTC pins date/timestamp casts. */
  def partValue(v: String, dt: org.apache.spark.sql.types.DataType): Any =
    if (v == null) null
    else dt match {
      case org.apache.spark.sql.types.StringType =>
        org.apache.spark.unsafe.types.UTF8String.fromString(v)
      case _ =>
        Cast(Literal(v), dt, Some("UTC")).eval(
          org.apache.spark.sql.catalyst.InternalRow.empty)
    }

  /** The inverse of [[partValue]], and the one rule that turns a
    * partition value into its path string (before hive escaping): cast
    * to string in UTC, as Spark's own `partitionBy` formats it. The
    * writer ([[graft.sources.connector.ManifestDataWriter]]) projects
    * it over each row and hands the string to `getPartitionPathString`,
    * which writes null and "" as `__HIVE_DEFAULT_PARTITION__`. */
  def partStringExpr(e: Expression): Expression =
    Cast(e, org.apache.spark.sql.types.StringType, Some("UTC"))

  /** [[partStringExpr]] of one external value (a pushed filter
    * literal); null stays null. An empty string stays "" — it matches
    * only a legacy `part=` dir, never a NULL-partition file. */
  def partString(v: Any): String =
    if (v == null) null else partStringExpr(Literal(v)).eval().toString

  /** All committed versions, ascending (one manifest-dir listing). */
  def versions(spark: SparkSession, root: String): Seq[Long] = {
    val (fs, _) = fsOf(spark, root)
    val md = new Path(manifestDir(root))
    if (!fs.exists(md)) Nil
    else fs.listStatus(md).iterator
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".txt") =>
        n.stripPrefix("v").stripSuffix(".txt").toLong }
      .toSeq.sorted
  }

  /** Highest committed version, or None for an uninitialized root. */
  def latestVersion(spark: SparkSession, root: String): Option[Long] =
    versions(spark, root).lastOption

  /** TAGS: named immutable refs to snapshots — the audit/publish
    * handle ("the corpus we trained run 7 on") that survives version
    * numbers scrolling past. A tag is one tiny file
    * (`_manifests/tag-<name>.txt` holding the version); `VERSION AS
    * OF 'name'` resolves through it, and [[vacuum]]/[[expireSnapshots]]
    * NEVER reclaim a tagged snapshot — dropping the tag releases it.
    * Re-tagging an existing name moves it (one-file overwrite). */
  def tag(spark: SparkSession, root: String, name: String,
          version: Long): Unit = {
    require(name.matches("[A-Za-z][A-Za-z0-9._-]*"),
      s"tag name '$name' must match [A-Za-z][A-Za-z0-9._-]*")
    val (fs, _) = fsOf(spark, root)
    require(fs.exists(new Path(manifestDir(root), vName(version))),
      s"cannot tag: version $version of $root does not exist")
    val out = fs.create(new Path(manifestDir(root), s"tag-$name.txt"),
      true)
    try out.write(version.toString.getBytes("UTF-8"))
    finally out.close()
  }

  /** All tags, name → version (one manifest-dir listing). */
  def tags(spark: SparkSession, root: String): Map[String, Long] = {
    val (fs, _) = fsOf(spark, root)
    val md = new Path(manifestDir(root))
    if (!fs.exists(md)) Map.empty
    else fs.listStatus(md).iterator
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("tag-") && n.endsWith(".txt") =>
        val in = fs.open(new Path(md, n))
        val v = try scala.io.Source.fromInputStream(in, "UTF-8")
          .mkString.trim.toLong finally in.close()
        n.stripPrefix("tag-").stripSuffix(".txt") -> v
      }.toMap
  }

  def dropTag(spark: SparkSession, root: String, name: String): Boolean = {
    val (fs, _) = fsOf(spark, root)
    fs.delete(new Path(manifestDir(root), s"tag-$name.txt"), false)
  }

  /** `VERSION AS OF` argument → version: a number is itself, anything
    * else resolves as a tag name. Fails loudly on unknown tags. */
  def resolveVersion(spark: SparkSession, root: String,
                     ref: String): Long =
    ref.toLongOption.getOrElse(
      tags(spark, root).getOrElse(ref,
        throw new IllegalArgumentException(
          s"'$ref' is neither a version number nor a tag of $root " +
            s"(tags: ${tags(spark, root).keys.toSeq.sorted.mkString(", ")})")))

  // ---- WRITE-AUDIT-PUBLISH: staged commits ------------------------------
  //
  // The quality-gate workflow a training-data pipeline runs on every
  // corpus drop: WRITE the new data as a staged commit that is NOT on
  // the version chain, AUDIT it by reading the staged snapshot (base
  // + delta, exactly what publishing would produce), then atomically
  // PUBLISH it onto the chain — or discard it, reclaiming the staged
  // files. Readers of the table never see unaudited data; the publish
  // itself is the ordinary O_EXCL manifest rename, so it is all-or-
  // nothing under concurrency.

  private def stageName(id: String) = s"stage-$id.txt"

  private def checkRefName(kind: String, name: String): Unit =
    require(name.matches("[A-Za-z][A-Za-z0-9._-]*"),
      s"$kind '$name' must match [A-Za-z][A-Za-z0-9._-]*")

  /** Stage `df` as an UNPUBLISHED append: data files are written (so
    * the audit reads real files through the real scan machinery) and
    * the would-be manifest lands in `_manifests/stage-<id>.txt`,
    * recording the base version it appends onto. The version chain —
    * and every reader of the table — is untouched. A stage id can be
    * claimed once (O_EXCL); [[discardStage]] releases it. */
  def stageAppend(spark: SparkSession, root: String, df: DataFrame,
                  stageId: String,
                  partitionCols: Seq[String] = Nil): Unit = {
    checkRefName("stage id", stageId)
    val cur = latestVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"$root not initialized"))
    val prev = readManifest(spark, root, cur)
    checkPartCols(prev, partitionCols)
    enforceConstraints(root, df, prev.meta)
    val fresh = writeCommit(spark, root, cur + 1, df, partitionCols)
    writeStage(spark, root, stageId, prev.entries ++ fresh,
      prev.meta ++
        schemaHeaders(mergeSchemas(prev.schema, df.schema),
          partitionCols) + ("base" -> cur.toString),
      prev.deletes)
  }

  /** Stage an UNPUBLISHED replace (the audited corpus re-drop): the
    * staged snapshot is `df` ALONE — publishing swaps the entire file
    * set, resets the schema/layout headers to the new frame's, and
    * drops pending deletes and tombstones, exactly like
    * [[commitReplace]]. Same audit/publish/discard lifecycle as
    * [[stageAppend]]. */
  def stageReplace(spark: SparkSession, root: String, df: DataFrame,
                   stageId: String,
                   partitionCols: Seq[String] = Nil): Unit = {
    checkRefName("stage id", stageId)
    val cur = latestVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"$root not initialized"))
    val prev = readManifest(spark, root, cur)
    enforceConstraints(root, df, prev.meta)
    val fresh = writeCommit(spark, root, cur + 1, df, partitionCols)
    writeStage(spark, root, stageId, fresh,
      prev.meta - "dropped" ++
        schemaHeaders(df.schema, partitionCols) +
        ("base" -> cur.toString),
      Nil) // a replace leaves nothing for deletes to apply to
  }

  private def writeStage(spark: SparkSession, root: String,
      stageId: String, entries: Seq[FileEntry],
      meta: Map[String, String], deletes: Seq[DeleteEntry]): Unit = {
    val (fs, _) = fsOf(spark, root)
    val dst = new Path(manifestDir(root), stageName(stageId))
    writeExclusiveManifest(fs, dst, manifestBody(entries, meta, deletes),
      s"stage '$stageId' already exists on $root — audit and " +
        "publishStage/discardStage it first")
  }

  private def readStageManifest(spark: SparkSession, root: String,
                                stageId: String): SnapshotMeta = {
    val m = readManifestAt(spark, root,
      new Path(manifestDir(root), stageName(stageId)), -1L)
    require(m.meta.contains("base"),
      s"stage '$stageId' of $root carries no base version")
    // label with the version publishing would mint
    m.copy(version = m.meta("base").toLong + 1)
  }

  /** Connector handle for `option("stage", id)` audit reads. */
  private[graft] def stageMeta(spark: SparkSession, root: String,
                               stageId: String): SnapshotMeta =
    readStageManifest(spark, root, stageId)

  /** AUDIT read: the snapshot publishing stage `id` would produce
    * (base + staged delta, pending deletes applied) — run the quality
    * gates on this. */
  def readStage(spark: SparkSession, root: String,
                stageId: String): DataFrame = {
    val m = readStageManifest(spark, root, stageId)
    scan(spark, root, m, m.entries, m.deletes)
  }

  /** Live stage ids (one manifest-dir listing). */
  def stages(spark: SparkSession, root: String): Seq[String] = {
    val (fs, _) = fsOf(spark, root)
    val md = new Path(manifestDir(root))
    if (!fs.exists(md)) Nil
    else fs.listStatus(md).iterator.map(_.getPath.getName)
      .collect { case n if n.startsWith("stage-") && n.endsWith(".txt") =>
        n.stripPrefix("stage-").stripSuffix(".txt") }
      .toSeq.sorted
  }

  /** PUBLISH: fast-forward the chain to the staged snapshot — the
    * ordinary atomic commit. Fails loudly if the table advanced past
    * the stage's base (publishing would silently drop the concurrent
    * commits AND the audit ran against a snapshot that no longer
    * exists — re-stage on the new base instead). The stage file is
    * released on success. */
  def publishStage(spark: SparkSession, root: String,
                   stageId: String): Long = {
    val m = readStageManifest(spark, root, stageId)
    val base = m.meta("base").toLong
    val cur = latestVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"$root not initialized"))
    require(cur == base,
      s"cannot publish stage '$stageId': $root advanced from " +
        s"v$base to v$cur since it was staged — the audited snapshot " +
        "no longer reflects the table; discard and re-stage")
    val v = publish(spark, root, cur, m.entries, m.meta - "base",
      m.deletes)
    val (fs, _) = fsOf(spark, root)
    fs.delete(new Path(manifestDir(root), stageName(stageId)), false)
    v
  }

  /** Discard a stage: delete its manifest and the staged data files no
    * chain snapshot references (the base's files are shared by
    * reference and survive untouched). Returns the deleted files. */
  def discardStage(spark: SparkSession, root: String,
                   stageId: String): Seq[String] = {
    val m = readStageManifest(spark, root, stageId)
    val (fs, _) = fsOf(spark, root)
    val chainRefs = versions(spark, root).flatMap { v =>
      val cm = readManifest(spark, root, v)
      cm.files ++ cm.deletes.map(_.path)
    }.toSet
    val otherStages = stages(spark, root).filterNot(_ == stageId)
      .flatMap(id => readStageManifest(spark, root, id).files).toSet
    val dead = m.files.filterNot(chainRefs).filterNot(otherStages)
      .filterNot(isForeignEntry) // clone-borrowed bytes belong to the source
    dead.foreach(f => fs.delete(new Path(s"$root/$f"), false))
    fs.delete(new Path(manifestDir(root), stageName(stageId)), false)
    dead
  }

  // ---- BRANCHES: named writable forks of the version chain -------------
  //
  // Write-audit-publish generalized from one staged commit to a whole
  // divergent chain: fork the table, run a multi-commit experiment (new
  // cleaning rules, a re-tokenized corpus) against the fork, validate,
  // then fast-forward main to the branch head — or drop the branch and
  // reclaim its files. Main-chain readers never see branch data.
  // Mechanics mirror the main chain exactly: a branch commit is
  // `_manifests/branch-<name>-v%08d.txt` (same body format, same O_EXCL
  // commit-race rules), data files live in the shared `data/` dir and
  // fork by REFERENCE — creating a branch costs one manifest copy and
  // zero data IO at any table size.

  private def branchManifestName(name: String, v: Long) =
    s"branch-$name-${vName(v)}"
  private val BranchManifestRe = """branch-(.+)-v(\d+)\.txt""".r

  /** Branch heads, name → head version (one manifest-dir listing). */
  def branches(spark: SparkSession, root: String): Map[String, Long] =
    allBranchVersions(spark, root).map { case (n, vs) => n -> vs.last }

  /** Every branch's committed versions, ascending, from ONE
    * manifest-dir listing — the primitive the liveness scans
    * (vacuum/orphans/drop) iterate so they never re-list per version. */
  private def allBranchVersions(spark: SparkSession, root: String)
      : Map[String, Seq[Long]] = {
    val (fs, _) = fsOf(spark, root)
    val md = new Path(manifestDir(root))
    if (!fs.exists(md)) Map.empty
    else fs.listStatus(md).iterator.map(_.getPath.getName)
      .collect { case BranchManifestRe(n, v) => n -> v.toLong }
      .toSeq.groupBy(_._1)
      .map { case (n, vs) => n -> vs.map(_._2).sorted }
  }

  /** A branch's committed versions, ascending; head() is the last, the
    * FIRST is the fork base (the copied main snapshot). */
  private def branchVersions(spark: SparkSession, root: String,
                             name: String): Seq[Long] =
    allBranchVersions(spark, root).getOrElse(name, Nil)

  /** Read one branch manifest directly by constructed name — no
    * listing; callers pass versions they already hold. */
  private def readBranchManifest(spark: SparkSession, root: String,
                                 name: String, v: Long): SnapshotMeta =
    readManifestAt(spark, root,
      new Path(manifestDir(root), branchManifestName(name, v)), v)

  def branchHead(spark: SparkSession, root: String, name: String): Long =
    branchVersions(spark, root, name).lastOption.getOrElse(
      throw new IllegalArgumentException(
        s"no branch '$name' on $root (branches: " +
          s"${branches(spark, root).keys.toSeq.sorted.mkString(", ")})"))

  /** Connector handle for `option("branch", name)` reads. */
  private[graft] def branchMeta(spark: SparkSession, root: String,
                                name: String,
                                version: Option[Long] = None)
      : SnapshotMeta = {
    val bvs = branchVersions(spark, root, name)
    require(bvs.nonEmpty,
      s"no branch '$name' on $root (branches: " +
        s"${branches(spark, root).keys.toSeq.sorted.mkString(", ")})")
    val v = version.getOrElse(bvs.last)
    require(bvs.contains(v),
      s"branch '$name' of $root has no version $v " +
        s"(versions: ${bvs.mkString(", ")})")
    readBranchManifest(spark, root, name, v)
  }

  /** Fork the table at `from` (default: latest). One O_EXCL manifest
    * copy; the fork shares every data file by reference. */
  def createBranch(spark: SparkSession, root: String, name: String,
                   from: Option[Long] = None): Long = {
    checkRefName("branch name", name)
    val v = from.getOrElse(latestVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"$root not initialized")))
    val m = readManifest(spark, root, v) // validates the version exists
    if (branchVersions(spark, root, name).nonEmpty)
      throw new IllegalStateException(
        s"branch '$name' already exists on $root — dropBranch it first")
    writeBranchManifest(spark, root, name, v, m.entries, m.meta,
      m.deletes)
    // O_EXCL only fences same-version collisions; two racing creators
    // forking at DIFFERENT versions both pass the exists-check and
    // write different filenames, leaving a corrupt two-base branch.
    // Post-write validation: if our manifest is not the branch's
    // minimum (fork-base) version, we lost — withdraw and fail.
    val after = branchVersions(spark, root, name)
    if (after.headOption != Some(v)) {
      val (fs, _) = fsOf(spark, root)
      fs.delete(new Path(manifestDir(root), branchManifestName(name, v)),
        false)
      throw new IllegalStateException(
        s"branch '$name' was concurrently created on $root at " +
          s"v${after.headOption.getOrElse(-1L)} — lost the race")
    }
    v
  }

  private def writeBranchManifest(spark: SparkSession, root: String,
      name: String, v: Long, entries: Seq[FileEntry],
      meta: Map[String, String], deletes: Seq[DeleteEntry]): Long = {
    val (fs, _) = fsOf(spark, root)
    val dst = new Path(manifestDir(root), branchManifestName(name, v))
    writeExclusiveManifest(fs, dst, manifestBody(entries, meta, deletes),
      s"commit conflict: version $v of branch '$name' on $root " +
        "already exists (concurrent committer won); re-read the " +
        "branch head and retry")
    v
  }

  /** Append-commit onto a branch — [[commitAppend]] with the branch
    * head as the base; the main chain is untouched. Runs the same
    * bounded optimistic-concurrency loop as [[commitAppend]]: a lost
    * race against a concurrent branch committer re-reads the branch
    * head and republishes the already-written files. */
  def commitAppendBranch(spark: SparkSession, root: String, name: String,
                         df: DataFrame,
                         partitionCols: Seq[String] = Nil): Long = {
    val head0 = branchHead(spark, root, name)
    val bm0 = branchMeta(spark, root, name, Some(head0))
    checkPartCols(bm0, partitionCols)
    // constraints fork with the branch (its manifest carries the
    // check.* headers) — a branch append obeys the same gates
    enforceConstraints(root, df, bm0.meta)
    val fresh = writeCommit(spark, root, head0 + 1, df, partitionCols)
    retryingAppend(maxAttempts = 5) {
      val head = branchHead(spark, root, name)
      val prev = branchMeta(spark, root, name, Some(head))
      checkPartCols(prev, partitionCols)
      appendRaceFence() // between head-read and claim: the race window
      writeBranchManifest(spark, root, name, head + 1,
        prev.entries ++ fresh.map(_.copy(seq = Some(head + 1))),
        prev.meta ++ schemaHeaders(
          mergeSchemas(prev.schema, df.schema), partitionCols),
        prev.deletes)
    }
  }

  /** Read a branch snapshot (head by default). */
  def readBranch(spark: SparkSession, root: String, name: String,
                 version: Option[Long] = None): DataFrame = {
    val m = branchMeta(spark, root, name, version)
    scan(spark, root, m, m.entries, m.deletes)
  }

  /** MERGE a branch: squash-publish the branch HEAD onto main as one
    * ordinary atomic commit. Requires main to still be at the branch's
    * fork base — if main advanced, the branch diverged from a snapshot
    * that is no longer the table and must be re-created (rebased) on
    * the new head instead of silently overwriting the concurrent
    * commits. The branch itself is left in place (drop it when done). */
  def fastForward(spark: SparkSession, root: String,
                  name: String): Long = {
    val bvs = branchVersions(spark, root, name)
    require(bvs.nonEmpty, s"no branch '$name' on $root")
    val base = bvs.head
    val head = bvs.last
    val cur = latestVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"$root not initialized"))
    if (head == base) return cur // nothing committed on the branch
    require(cur == base,
      s"cannot fast-forward '$name': $root advanced from v$base to " +
        s"v$cur since the fork — re-create the branch on the new head")
    val m = branchMeta(spark, root, name, Some(head))
    publish(spark, root, cur, m.entries, m.meta, m.deletes)
  }

  /** Drop a branch: delete its manifests and every data file that ONLY
    * this branch references (main chain, tags ride the chain, stages
    * and other branches keep theirs — same liveness rule as
    * [[discardStage]]). Returns the deleted data files. */
  def dropBranch(spark: SparkSession, root: String,
                 name: String): Seq[String] = {
    val byBranch = allBranchVersions(spark, root) // ONE listing
    val bvs = byBranch.getOrElse(name, Nil)
    require(bvs.nonEmpty, s"no branch '$name' on $root")
    val (fs, _) = fsOf(spark, root)
    def refsOf(m: SnapshotMeta): Seq[String] =
      m.files ++ m.deletes.map(_.path)
    val mine = bvs.flatMap(v =>
      refsOf(readBranchManifest(spark, root, name, v))).toSet
    val keep: Set[String] =
      (versions(spark, root).flatMap(v =>
        refsOf(readManifest(spark, root, v))) ++
        stages(spark, root).flatMap(id =>
          refsOf(readStageManifest(spark, root, id))) ++
        (byBranch - name).flatMap { case (b, vs) =>
          vs.flatMap(v => refsOf(readBranchManifest(spark, root, b, v)))
        }).toSet
    val dead = (mine -- keep).toSeq.sorted.filterNot(isForeignEntry)
    dead.foreach(f => fs.delete(new Path(s"$root/$f"), false))
    bvs.foreach(v => fs.delete(
      new Path(manifestDir(root), branchManifestName(name, v)), false))
    dead
  }

  /** Every file any branch (any version) references — branch commits
    * must survive main-chain vacuum/orphan reclamation. One listing,
    * then direct manifest reads by constructed name. */
  private def branchRefs(spark: SparkSession, root: String)
      : Set[String] =
    allBranchVersions(spark, root).flatMap { case (b, vs) =>
      vs.flatMap { v =>
        val m = readBranchManifest(spark, root, b, v)
        m.files ++ m.deletes.map(_.path)
      }
    }.toSet

  /** Timestamp travel: the newest version committed at or before
    * `tsMillis` (what `TIMESTAMP AS OF` resolves to). Versions are
    * committed in order, so commit timestamps are non-decreasing —
    * scan from newest and take the first qualifying header, O(1)
    * manifest reads for "recent" timestamps. Pre-`ts` manifests
    * (older format) predate the feature and qualify for any queried
    * time. Fails loudly for a timestamp before the first commit. */
  def versionAt(spark: SparkSession, root: String, tsMillis: Long): Long =
    versions(spark, root).reverseIterator
      .find(v => snapshotMeta(spark, root, v).ts.forall(_ <= tsMillis))
      .getOrElse(throw new IllegalArgumentException(
        s"no snapshot of $root exists at or before epoch-millis " +
          s"$tsMillis (first commit is newer)"))

  /** Non-destructive ROLLBACK: publish a NEW head whose snapshot
    * equals version `to` — entries (with their original sequence
    * numbers), pending merge-on-read deletes, and every header
    * (schema, partition layout, dropped-column tombstones, streaming
    * high-water marks) are `to`'s, re-referenced with ZERO data IO.
    * The abandoned commits stay on the chain, time-travelable until
    * expired, so a rollback is itself undoable (roll "back" to the
    * old head's number). Retention keeps `to`'s files live because
    * the new head references them. Streaming batch marks revert WITH
    * the content: a sink batch the rollback undid becomes
    * re-appliable on replay — exactly-once is a property of the
    * table's current content, not of its abandoned history. Fails
    * loudly on an unknown/expired `to`, on `to` >= head (nothing to
    * roll back), and on a lost commit race (retry). */
  def rollback(spark: SparkSession, root: String, to: Long): Long = {
    val cur = latestVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"$root not initialized"))
    require(to < cur,
      s"rollback target v$to is not an ancestor of the head v$cur")
    require(versions(spark, root).contains(to),
      s"version $to of $root no longer exists (expired?) — " +
        "cannot roll back to it")
    val m = readManifest(spark, root, to)
    publish(spark, root, cur, m.entries,
      m.meta + ("rollback-of" -> to.toString), m.deletes)
  }

  /** CLONE: a new independent table whose first version IS a snapshot
    * of another table — the Delta `CLONE` / Iceberg snapshot-export /
    * OpenSearch snapshot-restore move.
    *
    * SHALLOW (default): zero data movement at ANY size — the clone's
    * manifest references the source's immutable files by absolute URI
    * (one driver-side text write; a 100 TB clone costs the same as a
    * 100 MB one). The cloned snapshot is PINNED with a tag on the
    * source (`clone-<hash>`), so the source's vacuum/expiration can
    * never reclaim the borrowed files — the footgun Delta documents
    * ("vacuum on the source breaks shallow clones") is closed by
    * construction here; [[releaseClone]] drops the pin when the clone
    * is abandoned. Writes to either table never touch the other: new
    * files land under their own root, and the clone's own vacuum
    * skips foreign entries (the source owns those bytes).
    *
    * DEEP: a distributed file copy under the clone's root — the clone
    * owns its bytes and survives the source's deletion; cost ∝ data.
    *
    * MoR delete files ride along (absolutized or copied), so cloning
    * a table with pending deletes reproduces exactly its visible
    * rows. Streaming high-water marks (`batch.*`) are NOT carried:
    * the clone is a new sink identity, and inherited fences would
    * silently drop a new stream's first batches. Bloom sidecars are
    * not carried either (rebuild on the clone if wanted).
    * The clone's FIRST manifest is published at the SOURCE version
    * number (not 1): carried entries keep their original merge-on-read
    * sequence numbers, so publishing lower would let a future delete
    * on the clone (stamped `version+1`) skip carried files whose seq
    * outranked it — silent resurrection. Starting at the source
    * version preserves the carried order verbatim AND guarantees every
    * new clone commit outranks it. Returns that version. */
  def cloneTable(spark: SparkSession, srcRoot: String, dstRoot: String,
                 version: Option[Long] = None,
                 deep: Boolean = false): Long = {
    val (sfs, _) = fsOf(spark, srcRoot)
    val qualifiedSrc =
      sfs.makeQualified(new Path(srcRoot)).toString.stripSuffix("/")
    val v = version.getOrElse(latestVersion(spark, srcRoot).getOrElse(
      throw new IllegalStateException(s"$srcRoot not initialized")))
    require(versions(spark, srcRoot).contains(v),
      s"version $v of $srcRoot does not exist")
    require(latestVersion(spark, dstRoot).isEmpty,
      s"clone target $dstRoot already has commits")
    val m = readManifest(spark, srcRoot, v)
    val keepMeta = m.meta -- Seq("count", "dcount", "ts", "base",
      "dropped", "rollback-of", ManifestBlooms.MetaKey,
      ManifestBlooms.MetaVersionKey, "cloned-from", "clone-mode",
      "clone-pin") filterNot { case (k, _) => k.startsWith("batch.") }
    val (entries, deletes, cloneMeta) =
      if (deep) {
        val rels = (m.files ++ m.deletes.map(_.path)).distinct
        val confArr = spark.sparkContext.hadoopConfiguration
          .iterator().asScala.map(e => (e.getKey, e.getValue)).toArray
        val srcQ = qualifiedSrc
        val dstQ = dstRoot
        spark.sparkContext
          .parallelize(rels, rels.size.max(1).min(256))
          .foreach { rel =>
            val c = new org.apache.hadoop.conf.Configuration(false)
            confArr.foreach { case (k, vv) => c.set(k, vv) }
            val from = new Path(absEntryPath(srcQ, rel))
            val to = new Path(s"$dstQ/${relTailOf(rel)}")
            val ffs = from.getFileSystem(c)
            val tfs = to.getFileSystem(c)
            org.apache.hadoop.fs.FileUtil.copy(
              ffs, from, tfs, to, false, true, c)
          }
        (m.entries.map(e => e.copy(path = relTailOf(e.path))),
          m.deletes.map(d => d.copy(path = relTailOf(d.path))),
          Map("cloned-from" -> s"$qualifiedSrc@v$v",
            "clone-mode" -> "deep"))
      } else {
        val pin = "clone-" + java.security.MessageDigest
          .getInstance("MD5").digest(dstRoot.getBytes("UTF-8"))
          .take(6).map("%02x".format(_)).mkString
        tag(spark, srcRoot, pin, v)
        (m.entries.map(e =>
            e.copy(path = absEntryPath(qualifiedSrc, e.path))),
          m.deletes.map(d =>
            d.copy(path = absEntryPath(qualifiedSrc, d.path))),
          Map("cloned-from" -> s"$qualifiedSrc@v$v",
            "clone-mode" -> "shallow", "clone-pin" -> pin))
      }
    publish(spark, dstRoot, v - 1L, entries, keepMeta ++ cloneMeta,
      deletes)
  }

  /** Drop a shallow clone's pin tag on its source, releasing the
    * borrowed snapshot back to the source's normal retention. Call
    * when abandoning the clone (or after rewriting it to own all its
    * files). No-op (false) for deep clones or already-released pins. */
  def releaseClone(spark: SparkSession, dstRoot: String): Boolean = {
    val cur = latestVersion(spark, dstRoot).getOrElse(return false)
    val meta = readManifest(spark, dstRoot, cur).meta
    (meta.get("cloned-from"), meta.get("clone-pin")) match {
      case (Some(from), Some(pin)) =>
        val srcRoot = from.substring(0, from.lastIndexOf("@v"))
        dropTag(spark, srcRoot, pin)
      case _ => false
    }
  }

  /** ANALYZE TABLE: one column-pruned aggregation pass over the
    * current snapshot collects per-column NDV (HyperLogLog++
    * approximate), exact null counts, and (strings/binary) average and
    * max byte lengths, then publishes them as a `colstats` header on a
    * new metadata-only commit — same files, zero data IO beyond the
    * stats pass itself. The connector folds these into the DSv2
    * `columnStats()` report, which Spark's `transformV2Stats` converts
    * to catalyst per-attribute statistics: with `spark.sql.cbo.enabled`
    * the join-reorder and filter-selectivity estimators see real NDVs
    * instead of guessing from row counts. Stats are ADVISORY — later
    * commits carry the header forward unchanged (the `colstats-v`
    * header records which version was analyzed, so staleness is
    * observable); estimates never affect results, only plans.
    * `cols = Nil` analyzes every column. */
  def analyzeTable(spark: SparkSession, root: String,
                   cols: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.functions.{approx_count_distinct, avg,
      length, octet_length, sum, when}
    val cur = latestVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"$root not initialized"))
    val df = read(spark, root, Some(cur))
    val fields = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val targets = if (cols.isEmpty) df.schema.fieldNames.toSeq else cols
    targets.foreach(c => require(fields.contains(c),
      s"cannot analyze '$c': not a column of $root " +
        s"(${df.schema.fieldNames.mkString(", ")})"))
    import org.apache.spark.sql.types.{BinaryType, StringType}
    val aggs = targets.flatMap { c =>
      Seq(approx_count_distinct(col(c)).as(s"ndv:$c"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nulls:$c")) ++
        (fields(c) match {
          case StringType => Seq(
            avg(octet_length(col(c))).as(s"avglen:$c"),
            max(octet_length(col(c))).as(s"maxlen:$c"))
          case BinaryType => Seq(
            avg(length(col(c))).as(s"avglen:$c"),
            max(length(col(c))).as(s"maxlen:$c"))
          case _ => Nil
        })
    }
    val row = df.select(targets.map(col): _*)
      .agg(aggs.head, aggs.tail: _*).collect()(0)
    def longAt(n: String): Option[Long] = {
      if (!row.schema.fieldNames.contains(n)) return None
      val i = row.fieldIndex(n)
      if (row.isNullAt(i)) None
      else Some(row.get(i) match {
        case l: Long   => l
        case i2: Int   => i2.toLong
        case d: Double => math.ceil(d).toLong
        case o         => o.toString.toDouble.ceil.toLong
      })
    }
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val json = JsonMethods.compact(JsonMethods.render(JObject(
      targets.sorted.map { c =>
        c -> (JObject(List(
          "ndv" -> (JLong(longAt(s"ndv:$c").getOrElse(0L)): JValue),
          "nulls" -> (JLong(longAt(s"nulls:$c").getOrElse(0L)): JValue)) ++
          longAt(s"avglen:$c").map(v => "avglen" -> (JLong(v): JValue)) ++
          longAt(s"maxlen:$c").map(v => "maxlen" -> (JLong(v): JValue)))
          : JValue)
      }.toList)))
    val prev = readManifest(spark, root, cur)
    publish(spark, root, cur, prev.entries,
      prev.meta + ("colstats" -> json) +
        ("colstats-v" -> (cur + 1).toString),
      prev.deletes)
  }

  /** One analyzed column's stats, decoded from the `colstats` header. */
  final case class AnalyzedCol(ndv: Long, nulls: Long,
                               avgLen: Option[Long], maxLen: Option[Long])

  /** Decode a `colstats` header; empty on any irregularity. */
  def decodeColStats(s: String): Map[String, AnalyzedCol] =
    try {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      def l(v: JValue): Option[Long] = v match {
        case JLong(n) => Some(n)
        case JInt(n)  => Some(n.toLong)
        case _        => None
      }
      JsonMethods.parse(s) match {
        case JObject(fields) => fields.flatMap { case (c, v) =>
          for {
            ndv <- l(v \ "ndv")
            nulls <- l(v \ "nulls")
          } yield c -> AnalyzedCol(ndv, nulls,
            l(v \ "avglen"), l(v \ "maxlen"))
        }.toMap
        case _ => Map.empty
      }
    } catch { case scala.util.control.NonFatal(_) => Map.empty }

  /** `#key=value` header lines carry commit metadata: the snapshot's
    * `schema` (Spark JSON) and `partcols`, streaming batch high-water
    * marks, and the torn-read `count`/`dcount` fences — those four are
    * on every manifest ([[RequiredHeaders]]). Every other line is one
    * data file: `path<TAB>size[<TAB>stats[<TAB>seq]]`. */
  final case class SnapshotMeta(version: Long, entries: Seq[FileEntry],
                                meta: Map[String, String],
                                deletes: Seq[DeleteEntry] = Nil) {
    def files: Seq[String] = entries.map(_.path)
    lazy val schema: org.apache.spark.sql.types.StructType =
      org.apache.spark.sql.types.DataType.fromJson(meta("schema"))
        .asInstanceOf[org.apache.spark.sql.types.StructType]
    def partCols: Seq[String] =
      meta("partcols").split(",").toSeq.filter(_.nonEmpty)
    /** Commit wall-clock (epoch millis); None for pre-`ts` manifests. */
    def ts: Option[Long] = meta.get("ts").flatMap(_.toLongOption)
  }

  private[graft] def snapshotMeta(spark: SparkSession, root: String,
                                  version: Long): SnapshotMeta =
    readManifest(spark, root, version)

  private def readManifest(spark: SparkSession, root: String,
                           version: Long): SnapshotMeta =
    readManifestAt(spark, root,
      new Path(manifestDir(root), vName(version)), version)

  /** The headers every manifest this format writes carries. */
  private[graft] val RequiredHeaders = Seq("schema", "partcols", "count", "dcount")

  /** Parse one manifest file (chain version or staged commit — same
    * format; `version` only labels the result). A manifest missing a
    * [[RequiredHeaders]] entry, or a file line without a size, was not
    * written by this table format and is refused. */
  private def readManifestAt(spark: SparkSession, root: String,
                             p: Path, version: Long): SnapshotMeta = {
    val (fs, _) = fsOf(spark, root)
    require(fs.exists(p), s"no manifest at $p under $root")
    val in = fs.open(p)
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().filter(_.nonEmpty).toList
      finally in.close()
    val (hdr, bodyLines) = lines.partition(_.startsWith("#"))
    // `~`-prefixed lines are merge-on-read delete files; the rest data
    val (delLines, fileLines) = bodyLines.partition(_.startsWith("~"))
    val meta = hdr.map(_.stripPrefix("#").split("=", 2))
      .collect { case Array(k, v) => k -> v }.toMap
    // torn-read fence, checked before any line is parsed (a torn read's
    // last line may itself be cut): the manifest is created-if-absent
    // and then written; a reader that opens it mid-write sees fewer
    // lines than the #count/#dcount headers promise and must fail
    // loudly (transient — retrying re-reads the completed file), never
    // scan a partial snapshot.
    meta.get("count").foreach { c =>
      require(c.toLong == fileLines.size,
        s"torn manifest read: version $version of $root promises $c " +
          s"files, read ${fileLines.size} — concurrent commit in flight, retry")
    }
    meta.get("dcount").foreach { c =>
      require(c.toLong == delLines.size,
        s"torn manifest read: version $version of $root promises $c " +
          s"delete files, read ${delLines.size} — retry")
    }
    // every writer emits all four headers, so a missing one is either
    // a read that raced the write past the header block (transient,
    // like the fence above) or a manifest from outside this format
    val missing = RequiredHeaders.filterNot(meta.contains)
    require(missing.isEmpty,
      s"torn manifest read or foreign manifest: $p of $root lacks the " +
        s"${missing.mkString(", ")} header(s) — retry if a commit is in " +
        "flight; otherwise it is not a manifest this table format writes")
    def sizeOf(sz: Option[String], l: String): Long =
      sz.flatMap(_.toLongOption).getOrElse(throw new IllegalArgumentException(
        s"manifest $p of $root: file line without a size: $l"))
    val files = fileLines.map { l =>
      // fields: path, size, stats (zone-map JSON; "" = absent), seq.
      // JSON escapes control chars, so a literal tab never splits stats.
      val f = l.split('\t')
      FileEntry(f(0), sizeOf(f.lift(1), l), f.lift(2).filter(_.nonEmpty),
        f.lift(3).flatMap(_.toLongOption))
    }
    val deletes = delLines.map { l =>
      l.stripPrefix("~").split('\t') match {
        case Array(p0, sz, sq, kc) =>
          DeleteEntry(p0, sizeOf(Some(sz), l), sq.toLong,
            kc.split(',').toSeq.filter(_.nonEmpty))
        case _ => throw new IllegalStateException(
          s"malformed delete line in v$version of $root: $l")
      }
    }
    SnapshotMeta(version, files, meta, deletes)
  }

  def snapshot(spark: SparkSession, root: String,
               version: Long): Snapshot = {
    val m = readManifest(spark, root, version)
    Snapshot(m.version, m.files)
  }

  /** ONE `graft-manifest` connector scan over `entries` of snapshot
    * `m`, planned from manifest metadata alone (schema + partcols
    * headers, file sizes and zone maps, partition tuples parsed from
    * paths): no per-commit relations, no filesystem listing, partition
    * and zone-map pruning at planning. Columns a file predates read
    * back NULL (parquet schema evolution). Each task drops the rows of
    * its file that a merge-on-read delete in `deletes` names (a delete
    * applies to files with a strictly smaller sequence), null-safe: a
    * NULL key value deletes NULL rows. */
  private def scan(spark: SparkSession, root: String, m: SnapshotMeta,
                   entries: Seq[FileEntry],
                   deletes: Seq[DeleteEntry]): DataFrame =
    PlanBridge.ofRows(spark, DataSourceV2Relation.create(
      ManifestTable(ManifestConnector.resolved(root, m, entries, deletes)),
      None, None))

  /** Read the table at `version` (default: latest). The scan is over
    * exactly the snapshot's files — concurrent commits are invisible.
    * A snapshot with a schema header but no files (freshly created
    * empty table) reads as an empty frame with the declared schema.
    * Pending merge-on-read deletes are applied. */
  def read(spark: SparkSession, root: String,
           version: Option[Long] = None): DataFrame = {
    val v = version.orElse(latestVersion(spark, root))
      .getOrElse(throw new IllegalStateException(
        s"$root has no committed version"))
    val m = readManifest(spark, root, v)
    scan(spark, root, m, m.entries, m.deletes)
  }

  /** Rows of a SUBSET of a snapshot's files (by table-relative path) —
    * the building block incremental consumers (materialized-view
    * refresh) use to read just a commit range's added or removed
    * files through the same scan as [[read]]. The snapshot's schema
    * resolves evolution (older files surface NULL for later columns);
    * pending MoR deletes of that snapshot apply. */
  private[graft] def readSubset(spark: SparkSession, root: String,
                                version: Long,
                                paths: Set[String]): DataFrame = {
    val m = readManifest(spark, root, version)
    val sel = m.entries.filter(e => paths(e.path))
    require(sel.size == paths.size,
      s"readSubset: ${paths.size - sel.size} path(s) are not files of " +
        s"$root v$version")
    scan(spark, root, m, sel, m.deletes)
  }

  /** Create-if-absent: the commit claim primitive. On file:// Hadoop's
    * own `create(path, overwrite = false)` is exists-then-open (TOCTOU
    * window) and `rename` silently overwrites, so the local path goes
    * through NIO `CREATE_NEW` — a true POSIX O_EXCL. On HDFS `create`
    * with overwrite=false is atomic natively. */
  private[graft] def createExclusive(fs: FileSystem,
                                     dst: Path): java.io.OutputStream = fs match {
    case _: org.apache.hadoop.fs.LocalFileSystem |
         _: org.apache.hadoop.fs.RawLocalFileSystem =>
      java.nio.file.Files.newOutputStream(
        java.nio.file.Paths.get(dst.toUri.getPath),
        java.nio.file.StandardOpenOption.CREATE_NEW,
        java.nio.file.StandardOpenOption.WRITE)
    case _ => fs.create(dst, false)
  }

  /** The ONE exclusive-manifest-write primitive every committer (chain
    * publish, staged commit, branch commit) goes through: O_EXCL
    * create, write, close; a lost race surfaces as IllegalStateException
    * with the caller's message. Centralized so a future atomicity fix
    * (an S3A-specific conflict exception, an fsync) lands everywhere
    * at once. */
  private def writeExclusiveManifest(fs: FileSystem, dst: Path,
                                     body: String,
                                     conflictMsg: => String): Unit = {
    val out =
      try createExclusive(fs, dst)
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException |
             _: java.nio.file.FileAlreadyExistsException =>
          throw new IllegalStateException(conflictMsg)
      }
    try out.write(body.getBytes("UTF-8"))
    finally out.close()
  }

  /** Atomically publish `entries` as version `expected+1`. Throws on a
    * lost race (someone else committed that version first) — the
    * winner's manifest is never clobbered. `private[graft]` so the
    * race spec can drive two committers off the SAME expected
    * version. */
  private[graft] def publish(spark: SparkSession, root: String,
                      expected: Long, entries: Seq[FileEntry],
                      meta: Map[String, String] = Map.empty,
                      deletes: Seq[DeleteEntry] = Nil): Long = {
    val (fs, _) = fsOf(spark, root)
    val next = expected + 1
    val md = new Path(manifestDir(root))
    fs.mkdirs(md)
    val dst = new Path(md, vName(next))
    // #count/#dcount fence readers racing the write (see readManifest);
    // carried-forward metas are overridden with THIS snapshot's counts
    // and commit time (the publish moment IS the snapshot's timestamp —
    // what `TIMESTAMP AS OF` resolves against).
    writeExclusiveManifest(fs, dst, manifestBody(entries, meta, deletes),
      s"commit conflict: version $next of $root already exists " +
        "(concurrent committer won); re-read latest and retry")
    next
  }

  /** One manifest file's full text: sorted `#k=v` headers (count/
    * dcount torn-read fences and the commit wall-clock stamped here),
    * `~`-prefixed delete lines, then one line per data file. Shared by
    * chain commits ([[publish]]) and staged commits ([[stageAppend]])
    * — one format, one parser. */
  private def manifestBody(entries: Seq[FileEntry],
                           meta: Map[String, String],
                           deletes: Seq[DeleteEntry]): String = {
    val hdr = (meta + ("count" -> entries.size.toString) +
      ("dcount" -> deletes.size.toString) +
      ("ts" -> System.currentTimeMillis().toString)).toSeq.sorted
      .map { case (k, v) => s"#$k=$v" }
    val fileLines = entries.map { e =>
      (e.stats, e.seq) match {
        case (st, Some(sq))   => s"${e.path}\t${e.size}\t${st.getOrElse("")}\t$sq"
        case (Some(st), None) => s"${e.path}\t${e.size}\t$st"
        case (None, None)     => s"${e.path}\t${e.size}"
      }
    }
    val delLines = deletes.map(d =>
      s"~${d.path}\t${d.size}\t${d.seq}\t" + d.keyCols.mkString(","))
    (hdr ++ delLines ++ fileLines).mkString("\n") + "\n"
  }

  /** Write `df`'s rows as the next commit's data files (hive-partition
    * layout when `partitionCols` given) and return their entries,
    * stamped with sequence `next`. The commit dir carries a random
    * suffix so two racing committers of the same version can never
    * clobber each other's files — the loser's dir simply orphans
    * (never referenced by a manifest). The rows are written as they
    * come ([[ManifestWriter.write]]): a commit with T input tasks and P
    * partition values writes up to T×P files unless the caller
    * repartitions by the partition columns first. */
  private def writeCommit(spark: SparkSession, root: String, next: Long,
                          df: DataFrame,
                          partitionCols: Seq[String]): Seq[FileEntry] = {
    val salt = java.util.UUID.randomUUID().toString.take(8)
    ManifestWriter.write(spark, root, f"c$next%08d-$salt", df,
      partitionCols).map(_.copy(seq = Some(next)))
  }

  /** The snapshot-describing headers every commit (re)publishes: the
    * table schema (Spark JSON) and the partition column list — what
    * lets reads and the connector plan without touching a single
    * parquet footer or directory. */
  private def schemaHeaders(schema: org.apache.spark.sql.types.StructType,
                            partitionCols: Seq[String])
      : Map[String, String] = {
    require(partitionCols.forall(!_.contains(",")),
      "partition column names must not contain ','")
    Map("schema" -> schema.json, "partcols" -> partitionCols.mkString(","))
  }

  /** Union of two schemas by field name: existing fields keep their
    * position (nullability widens); fields only the new commit has are
    * appended NULLABLE (older files read them back NULL). Type
    * conflicts fail loudly — silent cross-commit coercion is how
    * tables rot. */
  private def mergeSchemas(old: org.apache.spark.sql.types.StructType,
                           add: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    val addByName = add.fields.map(f => f.name -> f).toMap
    old.fields.foreach { o =>
      addByName.get(o.name).foreach { f =>
        // catalogString comparison = type equality modulo nullability
        require(o.dataType.catalogString == f.dataType.catalogString,
          s"schema conflict on '${o.name}': table has ${o.dataType}, " +
            s"commit has ${f.dataType}")
      }
    }
    val oldNames = old.fieldNames.toSet
    org.apache.spark.sql.types.StructType(
      old.fields.map { o =>
        o.copy(nullable = o.nullable ||
          addByName.get(o.name).forall(_.nullable))
      } ++
        add.fields.filterNot(f => oldNames(f.name))
          .map(_.copy(nullable = true)))
  }

  /** Appends must keep the table's partition layout — a commit with a
    * different layout would make the snapshot unplannable (and
    * silently unprunable). */
  private def checkPartCols(prev: SnapshotMeta,
                            partitionCols: Seq[String]): Unit =
    require(prev.partCols == partitionCols,
      s"partition layout mismatch: table is partitioned by " +
        s"${prev.partCols.mkString("[", ",", "]")}, commit by " +
        s"${partitionCols.mkString("[", ",", "]")}")

  /** Custom commit metadata (`extraMeta`) rides the manifest header
    * like any other `#k=v` line and carries forward commit-to-commit —
    * the audit-trail / application-state channel (who committed, which
    * pipeline run, a consumer's resume point). Reserved keys are the
    * table's own headers; newlines would tear the line format. */
  private val ReservedMeta =
    Set("schema", "partcols", "count", "dcount", "ts", "base", "dropped",
      "colstats", "colstats-v", "rollback-of", "blooms", "blooms-v",
      "cloned-from", "clone-mode", "clone-pin")
  private def checkExtraMeta(m: Map[String, String]): Unit =
    m.foreach { case (k, v) =>
      require(k.nonEmpty && !ReservedMeta(k) && !k.startsWith("batch.") &&
          !k.startsWith(CheckPrefix) &&
          !k.contains("=") && !k.contains("\n") && !v.contains("\n"),
        s"commit metadata key '$k' is reserved or malformed " +
          "(no '=', no newlines, not a table header; constraints go " +
          "through addConstraint)")
    }

  // ---- CHECK constraints (ingestion-time quality gates) -----------

  /** A commit was refused because incoming rows violate a table CHECK
    * constraint ([[addConstraint]]). Nothing published. */
  final class ConstraintViolationException(msg: String)
    extends IllegalStateException(msg)

  private val CheckPrefix = "check."

  private def constraintsIn(meta: Map[String, String])
      : Seq[(String, String)] =
    meta.toSeq.collect {
      case (k, v) if k.startsWith(CheckPrefix) =>
        (k.stripPrefix(CheckPrefix), v)
    }.sortBy(_._1)

  /** The table's CHECK constraints: name → boolean SQL expression. */
  def constraintsOf(spark: SparkSession, root: String)
      : Map[String, String] = {
    val cur = latestVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"$root not initialized"))
    constraintsIn(readManifest(spark, root, cur).meta).toMap
  }

  /** Add a CHECK constraint (the Delta/lakehouse `ALTER TABLE ADD
    * CONSTRAINT` analog): from this commit on, EVERY path that makes
    * rows visible — append, replace, merge, staged WAP writes, the
    * native INSERT / streaming-sink / row-level-DML commits —
    * validates the incoming rows against `exprSql` (SQL CHECK
    * semantics: NULL passes) and REFUSES the commit on the first
    * violation, before anything publishes. Enforcement is one bounded
    * probe job over the COMMIT's rows, never the table — the cost
    * model that survives 100 TB ingest. `validate` (default) also
    * proves the existing rows already satisfy the constraint (one
    * table scan, the one-off every engine pays at ADD CONSTRAINT);
    * pass false to skip it for known-clean tables. */
  def addConstraint(spark: SparkSession, root: String, name: String,
                    exprSql: String, validate: Boolean = true): Long = {
    checkRefName("constraint name", name)
    require(!exprSql.contains("\n") && !exprSql.contains("\t"),
      "constraint expression must be a single line without tabs")
    val cur = latestVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"$root not initialized"))
    val m = readManifest(spark, root, cur)
    require(!m.meta.contains(CheckPrefix + name),
      s"constraint '$name' already exists on $root")
    val table = read(spark, root, Some(cur))
    if (validate)
      enforceConstraints(root, table, Map(CheckPrefix + name -> exprSql))
    else // still fail unknown columns / non-boolean types loudly
      table.filter(coalesce(expr(exprSql), lit(true)))
        .queryExecution.assertAnalyzed()
    publish(spark, root, cur, m.entries,
      m.meta + (CheckPrefix + name -> exprSql), m.deletes)
  }

  /** Drop a CHECK constraint; false when it does not exist. */
  def dropConstraint(spark: SparkSession, root: String,
                     name: String): Boolean = {
    val cur = latestVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"$root not initialized"))
    val m = readManifest(spark, root, cur)
    if (!m.meta.contains(CheckPrefix + name)) false
    else {
      publish(spark, root, cur, m.entries,
        m.meta - (CheckPrefix + name), m.deletes)
      true
    }
  }

  /** Refuse `df` if any row violates a CHECK constraint in `meta`.
    * Columns a constraint references that `df` lacks evaluate as NULL
    * (exactly what a reader of the evolved table would see; SQL CHECK
    * lets NULL pass). One bounded probe job over the incoming rows —
    * zero cost when no constraints exist. */
  private def enforceConstraints(root: String, df: DataFrame,
                                 meta: Map[String, String]): Unit = {
    val cs = constraintsIn(meta)
    if (cs.isEmpty) return
    val parser = df.sparkSession.sessionState.sqlParser
    val needed = cs.flatMap { case (_, e) =>
      parser.parseExpression(e).collect {
        case a: org.apache.spark.sql.catalyst.analysis
          .UnresolvedAttribute => a.name
      }
    }.distinct
    val have = df.columns.toSet
    val padded = needed.filterNot(have).foldLeft(df)(
      (d, c) => d.withColumn(c, lit(null)))
    val flags = cs.map { case (n, e) =>
      (!coalesce(expr(e), lit(true))).as(s"__viol_$n") }
    val present = needed.filter(have)
    val sample =
      if (present.isEmpty) lit("{}").as("__row")
      else to_json(struct(present.map(col): _*)).as("__row")
    val bad = padded.select(flags :+ sample: _*)
      .filter(cs.map { case (n, _) => col(s"__viol_$n") }
        .reduce(_ || _))
      .limit(1).collect()
    if (bad.nonEmpty) {
      val row = bad.head
      val names = cs.zipWithIndex.collect {
        case ((n, e), i) if row.getBoolean(i) => s"$n [$e]" }
      throw new ConstraintViolationException(
        s"commit to $root rejected: CHECK constraint(s) " +
          s"${names.mkString(", ")} violated — offending row's " +
          s"constrained columns: ${row.getString(cs.size)}")
    }
  }

  /** [[enforceConstraints]] over ALREADY-WRITTEN staged files (the
    * executor-written commit faces: native INSERT, streaming sink,
    * row-level DML). Reads only the staged entries — O(this commit). */
  private def enforceConstraintsOnEntries(spark: SparkSession,
      root: String, meta: Map[String, String],
      schema: org.apache.spark.sql.types.StructType,
      partitionCols: Seq[String], entries: Seq[FileEntry]): Unit =
    if (constraintsIn(meta).nonEmpty && entries.nonEmpty) {
      val em = SnapshotMeta(0L, entries,
        Map("schema" -> schema.json,
          "partcols" -> partitionCols.mkString(",")))
      enforceConstraints(root, scan(spark, root, em, entries, Nil), meta)
    }

  /** Initialize the table: version 1 = `df`. An EMPTY `df` creates a
    * zero-file snapshot whose schema header still makes the table
    * readable (the CREATE TABLE shape).
    *
    * `lateMeta` is evaluated AFTER the data write and merged into the
    * same commit's header — the channel for metadata that only exists
    * once the write job ran (an `Observation`'s metrics, folded into
    * the write instead of costing a separate pass; see
    * [[SearchIndex.create]]). Same reserved-key rules as `extraMeta`. */
  def init(spark: SparkSession, root: String, df: DataFrame,
           partitionCols: Seq[String] = Nil,
           extraMeta: Map[String, String] = Map.empty,
           lateMeta: () => Map[String, String] = () => Map.empty): Long = {
    require(latestVersion(spark, root).isEmpty,
      s"$root is already a manifest table")
    checkExtraMeta(extraMeta)
    val fresh = writeCommit(spark, root, 1L, df, partitionCols)
    val lm = lateMeta(); checkExtraMeta(lm)
    publish(spark, root, 0L, fresh,
      schemaHeaders(df.schema, partitionCols) ++ extraMeta ++ lm)
  }

  /** Append-commit: next snapshot = previous files + `df`'s files.
    * Header metadata (streaming high-water marks) carries forward; the
    * schema header widens to the union (schema evolution).
    *
    * OPTIMISTIC CONCURRENCY: the data files are written exactly once;
    * losing the commit race to a concurrent writer costs one manifest
    * re-read and a republish at the new head — never a data rewrite
    * (the same bounded loop the native V2 INSERT and the streaming
    * sink already run). Appends commute with every commit kind:
    * entries are re-stamped with the head-at-publish sequence, so a
    * concurrent merge-on-read delete (strictly-smaller-seq
    * applicability) can never retro-delete rows this append publishes
    * after it, and a concurrent replace simply precedes the append.
    * What does NOT auto-retry: a concurrent layout change still fails
    * `checkPartCols` loudly, and exhausting the attempts rethrows —
    * unbounded spinning would hide a stuck committer. */
  def commitAppend(spark: SparkSession, root: String, df: DataFrame,
                   partitionCols: Seq[String] = Nil,
                   extraMeta: Map[String, String] = Map.empty,
                   lateMeta: () => Map[String, String] = () => Map.empty)
      : Long = {
    checkExtraMeta(extraMeta)
    val cur = latestVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"$root not initialized"))
    val m0 = readManifest(spark, root, cur)
    checkPartCols(m0, partitionCols)
    enforceConstraints(root, df, m0.meta)
    val fresh = writeCommit(spark, root, cur + 1, df, partitionCols)
    // post-write metadata (see init): evaluated ONCE, outside the
    // optimistic-retry loop — a lost commit race re-publishes the same
    // already-computed values, never re-runs the job they came from
    val lm = lateMeta(); checkExtraMeta(lm)
    retryingAppend(maxAttempts = 5) {
      val head = latestVersion(spark, root).get
      val prev = readManifest(spark, root, head)
      checkPartCols(prev, partitionCols)
      appendRaceFence() // between head-read and claim: the race window
      publish(spark, root, head,
        prev.entries ++ fresh.map(_.copy(seq = Some(head + 1))),
        prev.meta ++ schemaHeaders(
          mergeSchemas(prev.schema, df.schema), partitionCols)
          ++ extraMeta ++ lm,
        prev.deletes) // pending MoR deletes still apply to older files
    }
  }

  /** Test seam for the optimistic-append loop: runs between the
    * head-read and the publish claim of every attempt so a spec can
    * inject a concurrent commit into exactly the window the race
    * occupies. Production no-op. Volatile (cross-thread visibility for
    * specs that flip it) and specs must reset it in a finally. */
  @volatile private[graft] var appendRaceFence: () => Unit = () => ()

  /** CONDITIONAL append — [[commitAppend]] minus the internal retry
    * loop: commits `df` only if the table head still IS
    * `expectedHead`, else throws `commit conflict` WITHOUT retrying.
    *
    * This is the primitive a re-validating admitter needs
    * ([[graft.operators.Dedup.admitNearDupAndCommit]]): commitAppend's
    * own retry re-publishes the SAME rows at the new head — correct
    * for plain appends (they commute), wrong for admission, whose
    * decision depends on the snapshot it read. Here the conflict
    * propagates so the CALLER can recompute its decision against the
    * new snapshot and try again — the read-validate-claim face of
    * optimistic concurrency, where validation covers the decision,
    * not just the claim.
    *
    * The head check is advisory (a racer can land between it and the
    * claim); the O_EXCL version-file claim in [[publish]] is the
    * authoritative CAS — it throws the same `commit conflict` if
    * version expectedHead+1 was taken, so no stale decision can ever
    * land. A lost race costs the data-file write of this attempt (the
    * decision changed, so re-writing is inherent, unlike commitAppend
    * whose files are decision-free and written once). */
  def commitAppendIf(spark: SparkSession, root: String,
                     expectedHead: Long, df: DataFrame,
                     partitionCols: Seq[String] = Nil,
                     extraMeta: Map[String, String] = Map.empty): Long = {
    checkExtraMeta(extraMeta)
    val cur = latestVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"$root not initialized"))
    if (cur != expectedHead)
      throw new IllegalStateException(
        s"commit conflict: expected head $expectedHead of $root, found " +
          s"$cur — re-validate against the new snapshot and retry")
    val prev = readManifest(spark, root, cur)
    checkPartCols(prev, partitionCols)
    enforceConstraints(root, df, prev.meta)
    val fresh = writeCommit(spark, root, cur + 1, df, partitionCols)
    appendRaceFence() // same injection window as the append loop
    try publish(spark, root, cur,
      prev.entries ++ fresh.map(_.copy(seq = Some(cur + 1))),
      prev.meta ++ schemaHeaders(
        mergeSchemas(prev.schema, df.schema), partitionCols)
        ++ extraMeta,
      prev.deletes)
    catch {
      case e: IllegalStateException if msgContains(e, "commit conflict") =>
        // A lost race here is EXPECTED (the caller re-validates and
        // retries with a rewritten decision), so this attempt's data
        // directory would otherwise orphan forever: no manifest ever
        // references it and no cleanup path covers data/ (discardStage
        // only reclaims stages). Delete it before propagating —
        // best-effort (a failed delete degrades back to an orphan, it
        // never masks the conflict the caller must see).
        try fresh.headOption.foreach { f =>
          val rel = f.path.split('/').take(2).mkString("/")
          if (rel.startsWith("data/")) {
            val (fs, rootP) = fsOf(spark, root)
            fs.delete(new Path(rootP, rel), true)
          }
        } catch { case _: Throwable => () }
        throw e
    }
  }

  private def msgContains(e: Throwable, s: String): Boolean =
    Option(e.getMessage).exists(_.contains(s))

  /** Shared race backoff: nothing on the first retry (the common
    * 2-writer race resolves immediately), exponential + jitter after,
    * so N herding writers don't re-collide every round. Used by the
    * append loop here and the V2 batch/streaming commit loops. */
  private[graft] def raceBackoff(attempt: Int): Unit =
    if (attempt > 1) Thread.sleep((10L << (attempt - 2)) +
      java.util.concurrent.ThreadLocalRandom.current()
        .nextLong(10L << (attempt - 2)))

  /** The bounded optimistic-commit loop: retry only the two faces of
    * the concurrent-writer race (lost O_EXCL claim, torn read of an
    * in-flight manifest); everything else — layout mismatch, schema
    * conflict — propagates on first throw. The first retry is
    * immediate (the common 2-writer race resolves at once); later ones
    * back off exponentially with jitter so N herding writers don't
    * re-collide every round and spuriously exhaust the budget. */
  private def retryingAppend(maxAttempts: Int)(attempt: => Long): Long = {
    var n = 0
    var last: Throwable = null
    while (n < maxAttempts) {
      raceBackoff(n)
      try return attempt
      catch {
        case e: IllegalStateException
            if msgContains(e, "commit conflict") =>
          last = e; n += 1
        case e: IllegalArgumentException
            if msgContains(e, "torn manifest read") =>
          last = e; n += 1
      }
    }
    throw last
  }

  /** EXACTLY-ONCE streaming sink commit: an append-commit that records
    * `(queryId, batchId)` in the manifest header and becomes a NO-OP
    * when that batch is already the last one committed for the query —
    * the transactional half that `foreachBatch`'s at-least-once replay
    * contract needs. On restart-and-replay the duplicate batch is
    * skipped instead of appended twice; distinct queries (different
    * `queryId`) interleave freely. Batch ids from one query arrive in
    * order (Structured Streaming replays from the failed batch
    * forward), so "last committed ≥ this one" is the full dedup
    * predicate. Usage:
    * {{{
    *   stream.writeStream.foreachBatch { (df, id) =>
    *     Manifest.commitStreamBatch(spark, root, df, "ingest", id); ()
    *   }
    * }}} */
  def commitStreamBatch(spark: SparkSession, root: String, df: DataFrame,
                        queryId: String, batchId: Long,
                        partitionCols: Seq[String] = Nil,
                        extraMeta: Map[String, String] = Map.empty): Long = {
    val metaKey = s"batch.$queryId"
    latestVersion(spark, root) match {
      case None =>
        require(latestVersion(spark, root).isEmpty, "race on init")
        publish(spark, root, 0L,
          writeCommit(spark, root, 1L, df, partitionCols),
          schemaHeaders(df.schema, partitionCols) ++ extraMeta +
            (metaKey -> batchId.toString))
      case Some(cur) =>
        val prev = readManifest(spark, root, cur)
        val already = prev.meta.get(metaKey).map(_.toLong)
        // replayed batch: no-op — extraMeta deliberately NOT applied
        // (a header stat rides its wave's commit exactly once)
        if (already.exists(_ >= batchId)) cur
        else {
          checkPartCols(prev, partitionCols)
          enforceConstraints(root, df, prev.meta)
          val fresh = writeCommit(spark, root, cur + 1, df, partitionCols)
          // carry other queries' high-water marks forward
          publish(spark, root, cur, prev.entries ++ fresh,
            prev.meta ++ schemaHeaders(mergeSchemas(prev.schema, df.schema),
              partitionCols) ++ extraMeta + (metaKey -> batchId.toString),
            prev.deletes)
        }
    }
  }

  /** EXACTLY-ONCE streaming commit of ALREADY-WRITTEN files — the
    * driver half of the native `writeStream.format("graft-manifest")`
    * sink, whose executors have staged the epoch's parquet files
    * themselves ([[graft.sources.connector.ManifestDataWriter]]) and
    * report their entries, stats included. Identical dedup contract to
    * [[commitStreamBatch]]: the `(queryId, batchId)` high-water mark in
    * the header makes an epoch replay a no-op — returns None so the
    * caller can reclaim the replayed epoch's staged files. */
  private[graft] def commitStreamEntries(spark: SparkSession, root: String,
      entries: Seq[FileEntry],
      schema: org.apache.spark.sql.types.StructType,
      partitionCols: Seq[String], queryId: String,
      batchId: Long): Option[Long] = {
    val metaKey = s"batch.$queryId"
    latestVersion(spark, root) match {
      case None =>
        val stated = entries.sortBy(_.path).map(_.copy(seq = Some(1L)))
        Some(publish(spark, root, 0L, stated,
          schemaHeaders(schema, partitionCols) +
            (metaKey -> batchId.toString)))
      case Some(cur) =>
        val prev = readManifest(spark, root, cur)
        if (prev.meta.get(metaKey).map(_.toLong).exists(_ >= batchId))
          None // replayed epoch: no-op, caller cleans the staged files
        else {
          checkPartCols(prev, partitionCols)
          enforceConstraintsOnEntries(spark, root, prev.meta,
            mergeSchemas(prev.schema, schema), partitionCols,
            entries)
          val stated =
            entries.sortBy(_.path).map(_.copy(seq = Some(cur + 1)))
          Some(publish(spark, root, cur, prev.entries ++ stated,
            prev.meta ++ schemaHeaders(
              mergeSchemas(prev.schema, schema), partitionCols) +
              (metaKey -> batchId.toString),
            prev.deletes))
        }
    }
  }

  /** Batch commit of ALREADY-WRITTEN files — the driver half of the
    * native V2 `INSERT INTO` / `INSERT OVERWRITE` path, whose
    * executors staged the parquet files themselves and report their
    * entries, stats included. Append carries the previous snapshot
    * forward (schema header widens, pending MoR deletes still guard
    * older files); replace swaps the entire file set,
    * commitReplace-style. */
  private[graft] def commitStagedEntries(spark: SparkSession,
      root: String, entries: Seq[FileEntry],
      schema: org.apache.spark.sql.types.StructType,
      partitionCols: Seq[String], replace: Boolean): Long = {
    val cur = latestVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"$root not initialized"))
    val prev = readManifest(spark, root, cur)
    enforceConstraintsOnEntries(spark, root, prev.meta,
      if (replace) schema else mergeSchemas(prev.schema, schema),
      partitionCols, entries)
    val stated = entries.sortBy(_.path).map(_.copy(seq = Some(cur + 1)))
    if (replace)
      publish(spark, root, cur, stated,
        prev.meta - "dropped" ++ schemaHeaders(schema, partitionCols))
    else {
      checkPartCols(prev, partitionCols)
      publish(spark, root, cur, prev.entries ++ stated,
        prev.meta ++ schemaHeaders(
          mergeSchemas(prev.schema, schema), partitionCols),
        prev.deletes)
    }
  }

  /** Atomic swap-commit for a row-level rewrite (every UPDATE / MERGE /
    * DELETE — SQL or [[mergeInto]] / [[deleteWhere]] — through the
    * connector): next snapshot = the read snapshot's files minus
    * `removed` (the files the rewrite scan planned) plus `added` (the
    * executor-written replacements), under `res.tableMeta` — the read
    * snapshot's headers plus whatever the caller resolved on top (a
    * widened schema, `extraMeta`). It is published as `res.version + 1`
    * with the create-if-absent claim: if the table advanced since the
    * rewrite read it, committing would silently drop that concurrent
    * commit's files, so it throws the `commit conflict` every committer
    * throws (optimistic concurrency). A rewrite that changes nothing —
    * no file removed or added, the same headers — publishes nothing
    * and returns `res.version`. */
  private[graft] def commitRewrite(spark: SparkSession,
      res: ManifestConnector.Resolved, removed: Set[String],
      added: Seq[FileEntry]): Long = {
    val prev = readManifest(spark, res.root, res.version)
    if (removed.isEmpty && added.isEmpty && res.tableMeta == prev.meta)
      return res.version
    enforceConstraintsOnEntries(spark, res.root, res.tableMeta,
      res.declared, res.partCols, added)
    val next = res.version + 1
    val stated = added.sortBy(_.path).map(_.copy(seq = Some(next)))
    publish(spark, res.root, res.version,
      prev.entries.filterNot(e => removed(e.path)) ++ stated, res.tableMeta,
      prev.deletes)
  }

  /** METADATA-ONLY schema evolution (the ALTER TABLE ADD COLUMN
    * commit): next snapshot = the same files under a schema header
    * widened with `add`'s fields (forced nullable — existing files
    * read them back NULL, the same contract append-evolution has).
    * Zero data IO, time-travelable like every commit: pinned readers
    * of older versions keep the narrower schema. Type conflicts with
    * existing columns fail loudly (mergeSchemas). */
  def commitAddColumns(spark: SparkSession, root: String,
      add: org.apache.spark.sql.types.StructType): Long = {
    val cur = latestVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"$root not initialized"))
    val prev = readManifest(spark, root, cur)
    val nullable = org.apache.spark.sql.types.StructType(
      add.fields.map(_.copy(nullable = true)))
    val existing = prev.schema.fieldNames.toSet
    val dup = nullable.fieldNames.filter(existing)
    require(dup.isEmpty,
      s"column(s) ${dup.mkString(", ")} already exist in $root")
    // a previously-dropped name cannot come back while old files may
    // still carry the physical column: name-based parquet resolution
    // would read the STALE values, not NULL (see commitDropColumns)
    val tomb = prev.meta.get("dropped")
      .map(_.split(",").toSet.filter(_.nonEmpty)).getOrElse(Set.empty)
    val shadowed = nullable.fieldNames.filter(tomb)
    require(shadowed.isEmpty,
      s"column(s) ${shadowed.mkString(", ")} were dropped earlier and " +
        "old files still carry their stale values — rewrite the table " +
        "first (commitReplace / zorder clears the tombstones)")
    publish(spark, root, cur, prev.entries,
      prev.meta ++ schemaHeaders(mergeSchemas(prev.schema, nullable),
        prev.partCols),
      prev.deletes)
  }

  /** METADATA-ONLY column drop (the ALTER TABLE DROP COLUMN commit):
    * next snapshot = the same files under a schema header without
    * `names`. Zero data IO — reads project the header's fields, so the
    * physical column simply stops being read; pinned older versions
    * keep it. Partition columns and pending merge-on-read delete keys
    * cannot be dropped (the former is the layout, the latter would
    * orphan the delete predicate).
    *
    * The dropped names accumulate in a `dropped` header: re-ADDing one
    * is refused while any old file may still carry the physical column
    * — name-based parquet resolution would resurrect the STALE values
    * instead of reading NULL. A full rewrite ([[commitReplace]],
    * [[zorder]]) clears the set; this is the no-field-ID analog of
    * Delta/Iceberg column mapping, trading rename support for zero
    * file-format magic. */
  def commitDropColumns(spark: SparkSession, root: String,
                        names: Seq[String]): Long = {
    val cur = latestVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"$root not initialized"))
    val prev = readManifest(spark, root, cur)
    val schema = prev.schema
    val partCols = prev.partCols
    require(names.nonEmpty && names.distinct.size == names.size,
      "drop list must be non-empty and duplicate-free")
    names.foreach { n =>
      require(!n.contains(","), s"column name '$n' must not contain ','")
      require(schema.fieldNames.contains(n),
        s"column '$n' does not exist in $root " +
          s"(${schema.fieldNames.mkString(", ")})")
      require(!partCols.contains(n),
        s"cannot drop partition column '$n' — it IS the table layout")
    }
    prev.deletes.foreach { d =>
      val hit = d.keyCols.filter(names.contains)
      require(hit.isEmpty,
        s"cannot drop ${hit.mkString(", ")}: pending merge-on-read " +
          "delete files key on it — rewriteDeletes first")
    }
    val remaining = org.apache.spark.sql.types.StructType(
      schema.filterNot(f => names.contains(f.name)))
    require(remaining.nonEmpty, "cannot drop every column of a table")
    val dropped = (prev.meta.get("dropped")
      .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil) ++
      names).distinct
    publish(spark, root, cur, prev.entries,
      prev.meta ++ schemaHeaders(remaining, partCols) +
        ("dropped" -> dropped.mkString(",")),
      prev.deletes)
  }

  /** Replace-commit (compaction shape): next snapshot = `df` alone.
    * Old snapshots keep reading their own files until vacuumed. */
  def commitReplace(spark: SparkSession, root: String, df: DataFrame,
                    partitionCols: Seq[String] = Nil,
                    extraMeta: Map[String, String] = Map.empty,
                    lateMeta: () => Map[String, String] = () => Map.empty)
      : Long = {
    checkExtraMeta(extraMeta)
    val cur = latestVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"$root not initialized"))
    val prev = readManifest(spark, root, cur)
    enforceConstraints(root, df, prev.meta)
    val fresh = writeCommit(spark, root, cur + 1, df, partitionCols)
    val lm = lateMeta(); checkExtraMeta(lm) // post-write meta (see init)
    // a replace swaps the ENTIRE file set, so the schema and layout
    // headers reset to the new frame's (this is also the sanctioned
    // way to converge a mixed-layout table); with no old
    // files left, dropped-column tombstones are released too
    publish(spark, root, cur, fresh,
      prev.meta - "dropped" ++ schemaHeaders(df.schema, partitionCols)
        ++ extraMeta ++ lm)
  }

  /** Upsert `updates` by `key`, planned as Spark's
    * `MERGE INTO t USING updates s ON t.key = s.key WHEN MATCHED THEN
    * UPDATE SET * WHEN NOT MATCHED THEN INSERT *` over the table head
    * ([[graft.sources.connector.ManifestRowLevelOperation]]): the files
    * holding matched rows are rewritten, every other file carries over
    * by reference, and one atomic commit publishes every partition at
    * once; pinned readers keep the pre-merge snapshot. Returns the
    * version the merge published.
    *
    * `updates` is projected onto the table's columns by name; a table
    * column it lacks is NULL in inserted and updated rows, and a column
    * only it has widens the schema (appended nullable, older rows read
    * it back NULL). `extraMeta` headers and the widened schema land in
    * the merge's own commit. `partitionCols` must be the table's layout
    * — e.g. the reference raw zone's `(dataType, date)` (reference:
    * python-data-ingestions/ingest-data-lambda.py:68); `Nil` =
    * unpartitioned.
    *
    * Row-level semantics: a matched row takes its update's partition
    * values, so a key whose update moves it to another partition leaves
    * one row, in the new partition. Two `updates` rows matching one
    * table row fail with Spark's MERGE cardinality error and commit
    * nothing. Rewrites are file-granular: a partition's files without a
    * matched row carry over. */
  def mergeInto(spark: SparkSession, root: String, updates: DataFrame,
                key: String, partitionCol: String): Long =
    mergeInto(spark, root, updates, key, Seq(partitionCol))

  def mergeInto(spark: SparkSession, root: String, updates: DataFrame,
                key: String, partitionCols: Seq[String],
                extraMeta: Map[String, String] = Map.empty): Long = {
    checkExtraMeta(extraMeta)
    rowLevel(spark, root, partitionCols, prev =>
        schemaHeaders(mergeSchemas(prev.schema, updates.schema),
          partitionCols) ++ extraMeta) { target =>
      val have = updates.columns.toSet
      val source = PlanBridge.logicalPlan(updates.select(target.output.map(a =>
        if (have(a.name)) col(a.name)
        else lit(null).cast(a.dataType).as(a.name)): _*))
      def keyOf(p: LogicalPlan) = p.output.find(_.name == key).getOrElse(
        throw new IllegalArgumentException(s"merge key '$key' is not a column"))
      MergeIntoTable(target, source, EqualTo(keyOf(target), keyOf(source)),
        Seq(UpdateStarAction(None)), Seq(InsertStarAction(None)), Nil,
        withSchemaEvolution = false)
    }
  }

  /** `DELETE FROM t WHERE predicate` over the table head, planned as
    * Spark's own row-level DELETE
    * ([[graft.sources.connector.ManifestRowLevelOperation]]): rows where
    * the predicate is TRUE go (three-valued — NULL keeps the row). Only
    * the files holding a matching row are rewritten, without those rows
    * (partition values, zone maps and bloom sidecars skip the rest
    * before the match is looked for); every other file carries over by
    * reference, so a match in one of a partition's files leaves its
    * other files in place. One atomic commit; old snapshots still hold
    * the deleted rows until vacuumed. A predicate that matches nothing
    * publishes nothing. Returns the published version. */
  def deleteWhere(spark: SparkSession, root: String,
                  predicate: org.apache.spark.sql.Column,
                  partitionCol: String): Long =
    deleteWhere(spark, root, predicate, Seq(partitionCol))

  def deleteWhere(spark: SparkSession, root: String,
                  predicate: org.apache.spark.sql.Column,
                  partitionCols: Seq[String]): Long =
    rowLevel(spark, root, partitionCols, _ => Map.empty) { target =>
      // the predicate resolved against the target, as a filter resolves it
      val cond = PlanBridge.logicalPlan(
        PlanBridge.ofRows(spark, target).filter(predicate)) match {
        case f: Filter => f.condition
        case p => throw new IllegalStateException(s"not a filter: $p")
      }
      DeleteFromTable(target, cond)
    }

  /** Run one DML command planned by `command` over a relation on the
    * head snapshot, whose headers are overlaid with `headers(head)`;
    * returns the version its commit published (the head when it
    * changed nothing). */
  private def rowLevel(spark: SparkSession, root: String,
                       partitionCols: Seq[String],
                       headers: SnapshotMeta => Map[String, String])(
                       command: DataSourceV2Relation => LogicalPlan): Long = {
    val cur = latestVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"$root not initialized"))
    val prev = readManifest(spark, root, cur)
    checkPartCols(prev, partitionCols)
    val table = ManifestTable(ManifestConnector.resolved(root,
      prev.copy(meta = prev.meta ++ headers(prev)), prev.entries,
      prev.deletes))
    PlanBridge.ofRows(spark,
      command(DataSourceV2Relation.create(table, None, None)))
    table.published
  }

  /** MERGE-ON-READ DELETE: erase every row whose key tuple appears in
    * `keys` (columns = the equality key) by committing the DISTINCT
    * key set as a delete file — NO data file is rewritten. At 100 TB
    * this is the difference between a DELETE costing O(deleted keys)
    * and one rewriting every file that may hold a match
    * (copy-on-write [[deleteWhere]]). Each read task drops the deleted
    * rows of its file as it streams; rows appended AFTER this commit
    * are never retro-deleted (file sequence numbers), so
    * delete-then-reinsert works. Run [[rewriteDeletes]] (or
    * [[compact]]) periodically to fold accumulated delete files back
    * into plain data files.
    * The versioned analog of the reference's keyed item delete
    * (reference: python-data-ingestions/index-data-lambda.py:164-172),
    * at a cost model that survives its 100 TB restatement. */
  def deleteByKeys(spark: SparkSession, root: String,
                   keys: DataFrame,
                   extraMeta: Map[String, String] = Map.empty,
                   lateMeta: () => Map[String, String] = () => Map.empty)
      : Long = {
    checkExtraMeta(extraMeta)
    val cur = latestVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"$root not initialized"))
    val prev = readManifest(spark, root, cur)
    val schema = prev.schema
    val kc = keys.columns.toSeq
    require(kc.nonEmpty, "delete keys need at least one column")
    kc.foreach { c =>
      require(!c.contains(",") && !c.contains("\t"),
        s"key column name '$c' must not contain ',' or tab")
      require(schema.fieldNames.contains(c),
        s"key column '$c' is not a column of $root " +
          s"(${schema.fieldNames.mkString(", ")})")
    }
    // table-typed, distinct keys — the delete file IS the predicate.
    // persist(): the frame is executed twice (count for the early
    // return + pack sizing, then the write) and the caller's key
    // derivation can be expensive — SearchIndex.refresh projects the
    // ids out of a full tokenize of the removed files' docs; without
    // the cache that upstream runs once per action.
    val casted = keys.select(
      kc.map(c => col(c).cast(schema(c).dataType).as(c)): _*).distinct()
      .persist()
    try {
      val cnt = casted.count()
      if (cnt == 0L) return cur // nothing to delete
      // ~4M keys per delete file keeps each a single broadcastable blob
      val next = cur + 1
      val packed = casted.coalesce(
        math.max(1, math.min(200, (cnt / 4000000L).toInt + 1)))
      val salt = java.util.UUID.randomUUID().toString.take(8)
      val delEntries = ManifestWriter.write(spark, root,
        f"d$next%08d-$salt", packed, Nil)
        .map(e => DeleteEntry(e.path, e.size, next, kc))
      // post-write metadata (see init's lateMeta): the channel for
      // stats observed DURING the key job — e.g. the erased docs'
      // token counts riding SearchIndex's delete propagation
      val lm = lateMeta(); checkExtraMeta(lm)
      publish(spark, root, cur, prev.entries,
        prev.meta ++ extraMeta ++ lm,
        prev.deletes ++ delEntries)
    } finally casted.unpersist()
  }

  /** One replayable unit of a source's history, for incremental
    * consumers (materialized views, serving indexes). `v` is the LAST
    * source version the step covers — the consumer's new base after
    * applying it. */
  private[graft] sealed trait CommitStep { def v: Long }
  /** Files added by one or more CONSECUTIVE pure-append commits. */
  private[graft] final case class AppendStep(v: Long,
      added: Set[String]) extends CommitStep
  /** Key files of one or more consecutive merge-on-read deletes
    * sharing a key-column set. `vPre` = the version JUST BEFORE the
    * run's first delete — the snapshot whose visible rows a consumer
    * must read to compute the erased rows' pre-images (reading at
    * `v - 1` would miss rows already erased by the run's earlier
    * commits). */
  private[graft] final case class DeleteStep(vPre: Long, v: Long,
      keyCols: Seq[String], delPaths: Seq[String]) extends CommitStep

  /** Classify `root`'s commits in `(base, head]` for per-commit
    * replay: pure appends and merge-on-read deletes (one key-column
    * set per commit). CONSECUTIVE same-kind steps merge — append ∪
    * append is one append, delete ∪ delete with equal key columns is
    * one delete (the key files union; overlapping keys erase a row
    * once either way) — so a consumer lagging N commits issues
    * O(kind alternations) commits of its own, not O(N). None when any
    * commit is anything else (rewrite, replace, compaction,
    * materialized deletes, mixed key sets, missing versions) — the
    * caller falls back to a full rebuild. Commits that changed
    * nothing consumable emit no step. */
  private[graft] def commitSteps(spark: SparkSession, root: String,
      base: Long, head: Long): Option[Seq[CommitStep]] = {
    val vs = versions(spark, root).toSet
    if (!((base to head).forall(vs))) return None
    var acc = List.empty[CommitStep]
    var v = base + 1
    while (v <= head) {
      val prev = snapshotMeta(spark, root, v - 1)
      val curr = snapshotMeta(spark, root, v)
      val prevF = prev.files.toSet; val currF = curr.files.toSet
      val added = currF -- prevF; val removed = prevF -- currF
      val prevD = prev.deletes.map(_.path).toSet
      val dNew = curr.deletes.filterNot(d => prevD(d.path))
      val dDropped = prevD -- curr.deletes.map(_.path).toSet
      if (removed.isEmpty && dNew.isEmpty && dDropped.isEmpty) {
        if (added.nonEmpty) acc = acc match {
          case AppendStep(_, a) :: tail =>
            AppendStep(v, a ++ added) :: tail
          case other => AppendStep(v, added) :: other
        }
      } else if (added.isEmpty && removed.isEmpty &&
        dDropped.isEmpty && dNew.nonEmpty &&
        dNew.map(_.keyCols).distinct.size == 1) {
        val kc = dNew.head.keyCols
        acc = acc match {
          case DeleteStep(vp, _, kc0, p) :: tail if kc0 == kc =>
            DeleteStep(vp, v, kc, p ++ dNew.map(_.path)) :: tail
          case other =>
            DeleteStep(v - 1, v, kc, dNew.map(_.path)) :: other
        }
      } else return None
      v += 1
    }
    Some(acc.reverse)
  }

  /** Materialize pending merge-on-read deletes: rewrite ONLY the data
    * files at least one delete applies to (their deletes-applied
    * post-image), carry every other file by reference, and drop the
    * delete entries. The maintenance half of [[deleteByKeys]]'s
    * read-time cost — run it when the accumulated delete set starts
    * to show up in scan times. Partition layout is preserved. */
  def rewriteDeletes(spark: SparkSession, root: String): Long = {
    val cur = latestVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"$root not initialized"))
    val m = readManifest(spark, root, cur)
    if (m.deletes.isEmpty) return cur
    val (seqHit, clean) = m.entries.partition(e =>
      m.deletes.exists(_.seq > e.dataSeq))
    if (seqHit.isEmpty) // deletes apply to nothing: drop them, keep files
      return publish(spark, root, cur, m.entries, m.meta)
    val (hit, spared) = pruneDeleteHits(spark, root, m, seqHit)
    if (hit.isEmpty) // no file can hold a deleted key: metadata-only drop
      return publish(spark, root, cur, m.entries, m.meta)
    val partCols = m.partCols
    val rows = scan(spark, root, m, hit, m.deletes)
    val fresh = writeCommit(spark, root, cur + 1, rows, partCols)
    publish(spark, root, cur, clean ++ spared ++ fresh, m.meta)
  }

  /** Planning-time narrowing of [[rewriteDeletes]]'s rewrite set: a
    * data file older than a delete only needs rewriting if some deleted
    * key can actually be PRESENT in it — otherwise its delete-applied
    * post-image is byte-for-byte itself, and rewriting it is pure
    * wasted IO (at 100 TB, an erasure of a handful of keys would
    * otherwise rewrite the whole corpus). The probe is the rule every
    * read prunes files by ([[ManifestConnector.keepFiles]], under its
    * group polarity), over one filter per key column built from the
    * delete files' collected distinct keys. Bounded: a delete set past
    * `cap` distinct keys, or candidates × keys past the compare budget,
    * skips narrowing and rewrites every seq-hit file — never unsound,
    * and the collect itself is one tiny job over the delete files
    * (already O(deleted keys) by contract). Multi-column keys probe per
    * column: a file is spared only when some key column can match NO
    * deleted value, which row-wise conjunction makes a sound superset
    * of the true hit set. */
  private def pruneDeleteHits(spark: SparkSession, root: String,
                              m: SnapshotMeta, cand: Seq[FileEntry],
                              cap: Int = 10000)
      : (Seq[FileEntry], Seq[FileEntry]) = {
    val groups = m.deletes.groupBy(_.keyCols).toSeq
    val collected = groups.map { case (kc, ds) =>
      val rows = spark.read
        .parquet(ds.map(d => absEntryPath(root, d.path)): _*)
        .select(kc.map(col): _*).distinct().limit(cap + 1).collect()
      (kc, ds, rows)
    }
    if (collected.exists(_._3.length > cap)) return (cand, Nil)
    val totalKeys = collected.map(_._3.length.toLong).sum
    if (cand.size.toLong * totalKeys > 50000000L) return (cand, Nil)
    val res = ManifestConnector.resolved(root, m, cand, Nil)
    val hit = collected.flatMap { case (kc, ds, rows) =>
      val keys = kc.zipWithIndex.map { case (c, i) =>
        val vs = rows.map(_.get(i)).distinct
        val in: SFilter = In(c, vs.filter(_ != null))
        if (vs.contains(null)) Or(in, IsNull(c)) else in
      }
      val seq = ds.map(_.seq).max
      ManifestConnector.keepFiles(res, res.files.filter(_.seq < seq), keys,
        group = true)
    }.map(_.absPath).toSet
    val (hits, spared) =
      cand.zip(res.files).partition(p => hit(p._2.absPath))
    (hits.map(_._1), spared.map(_._1))
  }

  /** Bin-packing compaction (the lakehouse OPTIMIZE): rewrite files
    * smaller than `smallBytes` into ~`targetBytes` files; files already
    * at a healthy size carry forward BY REFERENCE (zero IO). Victim
    * selection is pure manifest metadata — the sizes are on the file
    * lines, so deciding what to compact costs no filesystem calls at
    * all. The rewrite reads ONLY the small files (the subset scan
    * readChanges uses) and the commit is the ordinary
    * atomic publish: pinned readers keep the pre-compaction snapshot,
    * and a concurrent appender loses no data (its commit either lands
    * before this publish — conflict, retry compaction — or after, on
    * top of the compacted manifest).
    *
    * Streaming-sink hygiene: many small commits (one per micro-batch)
    * are exactly what produces the small-file problem; run this
    * periodically and [[vacuum]] afterwards to reclaim the rewritten
    * originals.
    *
    * Returns the new version, or the current one unchanged when fewer
    * than two small files exist (nothing to gain). */
  def compact(spark: SparkSession, root: String,
              smallBytes: Long = 32L * 1024 * 1024,
              targetBytes: Long = 128L * 1024 * 1024): Long = {
    val cur = latestVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"$root not initialized"))
    val m = readManifest(spark, root, cur)
    val (small, keep) = m.entries.partition(_.size < smallBytes)
    if (small.size < 2) return cur
    val partCols = m.partCols
    // deletes-applied: compaction must not resurrect rows
    val smallRows = scan(spark, root, m, small, m.deletes)
    // size the rewrite from manifest metadata: ceil(bytes / target)
    // output files, range-clustered on the partition columns so each
    // lands in one hive dir
    val nOut = math.max(1,
      math.ceil(small.map(_.size).sum.toDouble / targetBytes).toInt)
    // a recorded z-order (the zorder.cols header the layout rewrite
    // stamps) is PRESERVED: merged small files — typically the
    // unclustered append tail — re-sort by the same morton key
    // (bounds from the FULL table's zone maps so output interleaves
    // consistently with the already-clustered files), restoring
    // zone-map skipping instead of destroying it. Any inapplicable
    // header (dropped/retyped column) falls back to plain packing.
    val zSorted: Option[DataFrame] = m.meta.get("zorder.cols")
      .map(_.split(',').toSeq)
      .filter(cs => cs.size >= 2 &&
        cs.forall(m.schema.fieldNames.contains))
      .flatMap { cs =>
        val bits = m.meta.get("zorder.bits").map(_.toInt)
          .getOrElse(math.min(Layout.DefaultBits, 62 / cs.size))
        scala.util.Try {
          val zv = "__graft_zval"
          val rangeCols = partCols.map(col) :+ col(zv)
          smallRows
            .withColumn(zv, Layout.mortonN(
              cs.map(c => zScaledCol(smallRows, m.entries, c, bits)),
              bits))
            .repartitionByRange(nOut, rangeCols: _*)
            .sortWithinPartitions(rangeCols: _*)
            .drop(zv)
        }.toOption
      }
    val packed = zSorted.getOrElse(
      if (partCols.nonEmpty)
        smallRows.repartitionByRange(nOut, partCols.map(col): _*)
      else smallRows.repartition(nOut))
    val fresh = writeCommit(spark, root, cur + 1, packed, partCols)
    // deletes carry forward: they still apply to the kept (healthy)
    // files; the rewritten small files materialized them (new seq)
    publish(spark, root, cur, keep ++ fresh, m.meta, m.deletes)
  }

  /** OPTIMIZE ZORDER — snapshot layout rewrite clustering rows by the
    * Morton interleave of two integral columns ([[Layout.morton2]]).
    * A single-column sort gives tight per-file min/max envelopes on
    * that column only; interleaving keeps rows close in BOTH
    * dimensions, so the commit-time zone maps ([[ManifestStats]]) can
    * skip files for predicates on EITHER column — the layout behind
    * Delta/Iceberg `OPTIMIZE ZORDER BY`, riding this table format's
    * ordinary commit machinery.
    *
    * Both columns are RANGE-NORMALIZED to the full `bits` width before
    * interleaving — raw interleave is useless when ranges differ (a
    * 24-bit id drowns an 8-bit code: the sort degenerates to id order
    * and the narrow column's envelopes stay full-range). The global
    * bounds come from the manifest's own zone maps when every file
    * carries them (driver metadata, zero IO), else one min/max
    * aggregation over the rows being rewritten anyway.
    *
    * Scale shape: the z-value is one map-only expression; laying out
    * by it is the range-partitioned shuffle any bulk rewrite pays
    * (`targetBytes` sizes the output files from manifest metadata —
    * no listings). Within a hive-partitioned table files are ranged on
    * (partition cols, z) so each stays in its partition dir. Pending
    * merge-on-read deletes are materialized by the rewrite (same as
    * [[rewriteDeletes]]); pinned readers keep the old layout until
    * [[vacuum]]. At 100 TB you run this per hot partition or after
    * ingest waves, not per query — it is a full rewrite of the
    * snapshot's data, deliberately. */
  def zorder(spark: SparkSession, root: String, xCol: String,
             yCol: String, targetBytes: Long = 128L * 1024 * 1024,
             bits: Int = Layout.DefaultBits): Long =
    zorderBy(spark, root, Seq(xCol, yCol), targetBytes, bits)

  /** K-dimensional variant: cluster by [[Layout.mortonN]] over 2+
    * integral columns (each range-normalized to `bits` bits;
    * `bits * k ≤ 62` — the default narrows automatically as
    * dimensions are added). More dimensions = coarser per-dimension
    * envelopes; two or three is the sweet spot, matching
    * Delta/Iceberg guidance. */
  /** `partitionSpec` scopes the rewrite: only files whose partition
    * tuple carries every given (column → value) entry are re-laid-out;
    * everything else — and any pending merge-on-read delete — carries
    * forward untouched. At 100 TB this is how z-ordering actually
    * runs: per hot partition after an ingest wave, never the table. */
  def zorderBy(spark: SparkSession, root: String, zCols: Seq[String],
               targetBytes: Long = 128L * 1024 * 1024,
               bitsOpt: Int = -1,
               partitionSpec: Map[String, String] = Map.empty): Long = {
    require(zCols.size >= 2 && zCols.distinct.size == zCols.size,
      s"zorder needs 2+ distinct columns, got ${zCols.mkString(", ")}")
    val bits =
      if (bitsOpt > 0) bitsOpt
      else math.min(Layout.DefaultBits, 62 / zCols.size)
    val cur = latestVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"$root not initialized"))
    val m = readManifest(spark, root, cur)
    val schema = m.schema
    val partCols = m.partCols
    partitionSpec.keys.foreach(c => require(partCols.contains(c),
      s"partition spec names '$c', not a partition column of $root " +
        s"(${partCols.mkString(", ")})"))
    zCols.foreach { c =>
      require(schema.fieldNames.contains(c),
        s"z-order column '$c' is not a column of $root " +
          s"(${schema.fieldNames.mkString(", ")})")
      require(!partCols.contains(c),
        s"z-order column '$c' is a partition column — partition values " +
          "are already directory-pruned; z-order data columns instead")
      val integral = schema(c).dataType match {
        case org.apache.spark.sql.types.ByteType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.LongType => true
        case _ => false
      }
      require(integral,
        s"z-order column '$c' must be integral (byte/short/int/long), " +
          s"got ${schema(c).dataType.catalogString}")
    }
    val (scoped, carried) =
      if (partitionSpec.isEmpty) (m.entries, Seq.empty[FileEntry])
      else m.entries.partition { e =>
        val pv = partValuesOf(e.path).toMap
        partitionSpec.forall { case (c, v) => pv.get(c).contains(v) }
      }
    require(scoped.nonEmpty,
      s"no files of $root match partition spec $partitionSpec")
    val rows = scan(spark, root, m, scoped, m.deletes)
    def scaled(c: String): Column = zScaledCol(rows, scoped, c, bits)
    val totalBytes = scoped.map(_.size).sum
    val nOut = math.max(1,
      math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val zv = "__graft_zval"
    val rangeCols = partCols.map(col) :+ col(zv)
    val shaped = rows
      .withColumn(zv, Layout.mortonN(zCols.map(scaled), bits))
      .repartitionByRange(nOut, rangeCols: _*)
      .sortWithinPartitions(rangeCols: _*)
      .drop(zv)
    val fresh = writeCommit(spark, root, cur + 1, shaped, partCols)
    // the clustering is RECORDED so later maintenance can preserve it:
    // compact re-sorts merged small files by this key, restoring
    // clustering for the append tail instead of destroying it
    val zMeta = Map("zorder.cols" -> zCols.mkString(","),
      "zorder.bits" -> bits.toString)
    if (carried.isEmpty)
      // full rewrite: every pending delete materialized (none
      // re-publish), every file rewritten (tombstones release)
      publish(spark, root, cur, fresh, m.meta - "dropped" ++ zMeta)
    else
      // scoped rewrite: untouched files carry BY REFERENCE, and so
      // must the deletes (they still apply to the carried files; the
      // fresh files' higher seq exempts them) and any dropped-column
      // tombstones
      publish(spark, root, cur, carried ++ fresh, m.meta ++ zMeta,
        m.deletes)
  }

  /** `[lo, hi]`-normalized morton input for z-column `c`: bounds come
    * from zone maps over `entries` when every file carries them
    * (free), else one agg over `rows`. Double precision is fine — the
    * scale only shapes the LAYOUT, never results (NULLs sort first). */
  private def zScaledCol(rows: DataFrame, entries: Seq[FileEntry],
                         c: String, bits: Int): Column = {
    val perFile = entries.map(_.stats
      .flatMap(ManifestStats.decode)
      .flatMap(_.cols.get(c))
      .flatMap(s => for (mn <- s.min; mx <- s.max)
        yield (mn.toLong, mx.toLong)))
    val (lo, hi) =
      if (perFile.nonEmpty && perFile.forall(_.isDefined)) {
        val bs = perFile.flatten
        (bs.map(_._1).min, bs.map(_._2).max)
      } else {
        val r = rows.agg(min(col(c)), max(col(c))).head
        if (r.isNullAt(0)) (0L, 0L)
        else (r.getAs[Number](0).longValue,
          r.getAs[Number](1).longValue)
      }
    if (hi <= lo) lit(0L)
    else ((col(c) - lit(lo)).cast("double") /
      lit((hi - lo).toDouble) *
      lit(((1L << bits) - 1).toDouble)).cast("long")
  }

  /** Delete files under `data/` that NO snapshot (any live version),
    * stage, or delete entry references — the crash leftovers the
    * commit protocol creates BY DESIGN: a losing committer's staged
    * dir, a killed write's partial output. [[vacuum]] can never see
    * these (it walks manifests; orphans are precisely what no
    * manifest mentions), so this is the one maintenance op that must
    * list the filesystem — one recursive listing of `data/`, run it
    * on the cadence of crashes, not queries.
    *
    * `graceMillis` guards in-flight commits: files younger than the
    * grace window are kept even when unreferenced, because a commit
    * that has staged its files but not yet published its manifest
    * looks exactly like an orphan. Default 24 h; a commit that takes
    * longer than that has already failed. Returns the deleted
    * table-relative paths. */
  def removeOrphans(spark: SparkSession, root: String,
                    graceMillis: Long = 24L * 3600 * 1000)
      : Seq[String] = {
    val (fs, _) = fsOf(spark, root)
    val dataDir = new Path(s"$root/data")
    if (!fs.exists(dataDir)) return Nil
    val referenced: Set[String] =
      (versions(spark, root).flatMap { v =>
        val m = readManifest(spark, root, v)
        m.files ++ m.deletes.map(_.path)
      } ++ stages(spark, root).flatMap { id =>
        val sm = readStageManifest(spark, root, id)
        sm.files ++ sm.deletes.map(_.path)
      }).toSet ++ branchRefs(spark, root)
    val rootUri = fs.makeQualified(new Path(root)).toUri.getPath
    val cutoff = System.currentTimeMillis() - graceMillis
    val dead = ArrayBuffer.empty[String]
    val it = fs.listFiles(dataDir, true)
    while (it.hasNext) {
      val st = it.next()
      val name = st.getPath.getName
      val rel = st.getPath.toUri.getPath
        .stripPrefix(rootUri).stripPrefix("/")
      // `_SUCCESS`/`.crc`-style markers are commit-dir metadata, not
      // data — manifests never reference them and they are not orphans
      if (!name.startsWith("_") && !name.startsWith(".") &&
          !referenced.contains(rel) &&
          st.getModificationTime < cutoff) {
        fs.delete(st.getPath, false)
        dead += rel
      }
    }
    // sidecars of the files just removed (and any stragglers from
    // earlier reclamation) die with their data files
    if (dead.nonEmpty) ManifestBlooms.removeOrphanSidecars(spark, root)
    dead.toSeq
  }

  /** Drop snapshots older than the newest `keepVersions` and delete
    * data files no surviving snapshot references. The retention floor
    * is the reader contract: pin only snapshots inside it. */
  def vacuum(spark: SparkSession, root: String,
             keepVersions: Int = 2): Seq[String] = {
    require(keepVersions >= 1, "must keep at least the latest version")
    val cur = latestVersion(spark, root).getOrElse(return Nil)
    reclaim(spark, root, _ <= cur - keepVersions)
  }

  /** Age-based retention: drop snapshots COMMITTED before
    * `olderThanMillis` (epoch), always keeping the newest
    * `keepLast`. The commit timestamps this resolves against are the
    * same header stamps `TIMESTAMP AS OF` uses, so the contract
    * composes: a timestamp inside the retention window always
    * resolves. Pre-`ts` manifests have no age and are treated as
    * expired (they predate the feature by definition). */
  def expireSnapshots(spark: SparkSession, root: String,
                      olderThanMillis: Long,
                      keepLast: Int = 1): Seq[String] = {
    require(keepLast >= 1, "must keep at least the latest version")
    val cur = latestVersion(spark, root).getOrElse(return Nil)
    reclaim(spark, root, v =>
      v <= cur - keepLast &&
        readManifest(spark, root, v).ts.forall(_ < olderThanMillis))
  }

  /** Shared reclamation: drop the manifests `expire` selects and
    * delete every file (data AND delete files — reclaiming a delete
    * file a kept snapshot still carries would resurrect rows) no
    * surviving snapshot references. TAGGED snapshots never expire —
    * a tag is a promise that `VERSION AS OF 'name'` keeps resolving. */
  private def reclaim(spark: SparkSession, root: String,
                      expire: Long => Boolean): Seq[String] = {
    val (fs, _) = fsOf(spark, root)
    val all = versions(spark, root)
    val tagged = tags(spark, root).values.toSet
    val (drop, keep) = all.partition(v => expire(v) && !tagged(v))
    def refs(v: Long): Seq[String] = {
      val m = readManifest(spark, root, v)
      m.files ++ m.deletes.map(_.path)
    }
    // un-published staged commits keep their files (and, via the base
    // they carry by reference, the base's files) alive — reclaiming
    // under a pending audit would corrupt the stage
    val stagedRefs = stages(spark, root).flatMap { id =>
      val sm = readStageManifest(spark, root, id)
      sm.files ++ sm.deletes.map(_.path)
    }.toSet
    // branch commits share the fork's files by reference — a branch
    // must survive main-chain retention the same way tags do
    val live = keep.flatMap(refs).toSet ++ stagedRefs ++
      branchRefs(spark, root)
    val dead = drop.flatMap(refs).distinct.filterNot(live)
      // a shallow clone's foreign entries are the SOURCE's bytes — its
      // own retention (pinned by the clone tag) governs them, never ours
      .filterNot(isForeignEntry)
    dead.foreach(f => fs.delete(new Path(s"$root/$f"), false))
    // bloom sidecars index immutable data files — a reclaimed file's
    // sidecars are dead with it (directory may legitimately not exist)
    val bloomDir = new Path(s"$root/${ManifestBlooms.Dir}")
    if (dead.nonEmpty && fs.exists(bloomDir)) dead.foreach { f =>
      val parent = new Path(s"$root/${ManifestBlooms.Dir}/$f").getParent
      val name = new Path(f).getName
      if (fs.exists(parent))
        fs.listStatus(parent).foreach { st =>
          if (st.getPath.getName.startsWith(s"$name.") &&
              st.getPath.getName.endsWith(".bloom"))
            fs.delete(st.getPath, false)
        }
    }
    drop.foreach(v =>
      fs.delete(new Path(manifestDir(root), vName(v)), false))
    // remove now-empty commit dirs (cosmetic; harmless if it fails)
    fs.listStatus(new Path(s"$root/data")).foreach { d =>
      if (d.isDirectory && !fs.listFiles(d.getPath, true).hasNext)
        fs.delete(d.getPath, true)
    }
    dead
  }

  /** File-level diff between two snapshots: which data files `to`
    * references that `from` did not (added), and vice versa (removed).
    * Pure manifest arithmetic — O(files) driver text, no data IO. */
  final case class ChangeSet(added: Seq[String], removed: Seq[String])

  def changedFiles(spark: SparkSession, root: String,
                   from: Long, to: Long): ChangeSet = {
    require(from <= to, s"from=$from must be <= to=$to")
    val a = snapshot(spark, root, from).files.toSet
    val b = snapshot(spark, root, to).files.toSet
    ChangeSet((b -- a).toSeq.sorted, (a -- b).toSeq.sorted)
  }

  /** Incremental read: the rows of files ADDED between `from`
    * (exclusive) and `to` (inclusive, default latest) — the change
    * feed that lets a downstream pipeline recompute only what a commit
    * touched instead of rescanning the table. Semantics are
    * FILE-level, matching the copy-on-write layout: an append commit
    * yields exactly the appended rows; a merge/delete commit yields
    * the full post-image of every REWRITTEN file (untouched files
    * carry by reference, so they never appear).
    * At 100 TB this is the difference between an incremental
    * consumer scanning one commit's files and scanning the table.
    * Row-level deletes are visible as the removed side of
    * [[changedFiles]]; a consumer needing row-level retractions diffs
    * the removed files' keys against the added ones. */
  def readChanges(spark: SparkSession, root: String, from: Long,
                  to: Option[Long] = None): DataFrame = {
    val hi = to.orElse(latestVersion(spark, root)).getOrElse(
      throw new IllegalStateException(s"$root has no committed version"))
    val added = changedFiles(spark, root, from, hi).added.toSet
    require(added.nonEmpty,
      s"no files added between v$from and v$hi of $root")
    val m = readManifest(spark, root, hi)
    // a merge-on-read delete commit changes rows without changing the
    // file list — a file-level change feed would silently MISS those
    // retractions, so crossing one fails loudly instead
    // (materialize with rewriteDeletes/compact, then resume)
    val crossing = m.deletes.filter(d => d.seq > from && d.seq <= hi)
    require(crossing.isEmpty,
      s"change feed v$from..v$hi of $root crosses merge-on-read delete " +
        s"commit(s) at seq ${crossing.map(_.seq).distinct.sorted.mkString(",")} — " +
        "file-level changes cannot express row retractions; run " +
        "rewriteDeletes and consume the rewrite, or read full snapshots")
    // same scan as read(), over just the added files
    scan(spark, root, m, m.entries.filter(e => added(e.path)), Nil)
  }

  /** ROW-LEVEL change feed (CDC): the changes between `from`
    * (exclusive) and `to` (inclusive) as table rows plus
    * `_change_type` ('insert' | 'delete') and `_commit_version` —
    * the contract [[readChanges]] deliberately refuses to fake when a
    * merge-on-read delete commit is in the range. Per commit, in
    * version order:
    *
    *  - files ADDED at version v emit their raw rows as 'insert'
    *    (merge/CoW-delete commits re-emit rewritten partitions'
    *    post-image, same file-level semantics as [[readChanges]]);
    *  - a merge-on-read delete committed at version v emits its KEY
    *    TUPLES as 'delete' rows — key columns populated, every other
    *    column NULL (the keys are all a MoR delete stores; there is
    *    no pre-image to fabricate).
    *
    * A consumer applying commits in `_commit_version` order replays
    * the table exactly: a row inserted at v+1 and deleted at v+2 is
    * emitted as both, netting out. Scale shape: reads exactly the
    * added files and the (tiny) delete-key files — never the table. */
  def readChangesCdc(spark: SparkSession, root: String, from: Long,
                     to: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col => fcol, lit => flit}
    val hi = to.orElse(latestVersion(spark, root)).getOrElse(
      throw new IllegalStateException(s"$root has no committed version"))
    require(from <= hi, s"from=$from must be <= to=$hi")
    val m = readManifest(spark, root, hi)
    val schema = m.schema
    val added = changedFiles(spark, root, from, hi).added.toSet
    def stamp(df: DataFrame, kind: String, v: Long): DataFrame =
      df.withColumn("_change_type", flit(kind))
        .withColumn("_commit_version", flit(v))
    // inserts: added files grouped by the commit that added them
    val ins = m.entries.filter(e => added(e.path))
      .groupBy(_.dataSeq).toSeq.sortBy(_._1)
      .map { case (v, ents) =>
        stamp(scan(spark, root, m, ents, Nil), "insert", v) }
    // deletes: key files committed inside the window, keys populated,
    // every non-key column NULL at its declared type
    val dels = m.deletes.filter(d => d.seq > from && d.seq <= hi)
      .groupBy(d => (d.seq, d.keyCols)).toSeq.sortBy(_._1._1)
      .map { case ((v, keyCols), ds) =>
        val keys = spark.read.parquet(
          ds.map(d => absEntryPath(root, d.path)): _*)
        val full = keys.select(schema.map { f =>
          if (keyCols.contains(f.name)) fcol(f.name)
          else flit(null).cast(f.dataType).as(f.name)
        }: _*)
        stamp(full, "delete", v)
      }
    val parts = ins ++ dels
    require(parts.nonEmpty,
      s"no changes between v$from and v$hi of $root")
    parts.reduce(_.unionByName(_))
  }
}
