package graft.sources.connector

import java.util.OptionalLong

import scala.collection.JavaConverters._

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, Write, WriteBuilder}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.sources.{Filter => SFilter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.Manifest

/** DataSourceV2 connector over [[graft.sources.Manifest]] tables:
  *
  * {{{
  *   spark.read.format("graft-manifest")
  *     .option("version", 2)          // optional time travel; default latest
  *     .load(root)
  * }}}
  *
  * This is the idiomatic Spark surface for the manifest layer — the
  * reference exposes its lake through a Glue-registered table that
  * Athena queries by name (reference:
  * terraform-Infrastructure-provisioning/aws-data-lake-terraform-main.tf,
  * Glue catalog + crawler blocks); here the table format itself is ours,
  * so the connector implements the full V2 read contract instead of
  * delegating to a crawler:
  *
  *  - '''Manifest-level partition pruning''': filters over hive
  *    partition columns (parsed from the snapshot's file paths) are
  *    consumed on the driver — pruned files are never planned, so a
  *    `lang = 'de'` scan of a 100 TB table plans only `lang=de` files.
  *    This is metadata-only work, O(|files|) strings.
  *  - '''Column pruning''' (`SupportsPushDownRequiredColumns`): the
  *    per-file parquet projection contains exactly the requested
  *    columns — unread columns cost zero IO (columnar format).
  *  - '''Filter pushdown''' (`SupportsPushDownFilters`): data-column
  *    predicates translate through Spark's own `ParquetFilters`
  *    against each file's schema and skip whole row groups by their
  *    statistics. They are ALSO returned as residuals so Spark
  *    re-evaluates them — the pushdown is a pure IO-skip optimization
  *    and can never change results.
  *  - '''Limit pushdown''' (`SupportsPushDownLimit`): per-reader row
  *    cap; Spark still applies the global limit.
  *  - '''Statistics''' (`SupportsReportStatistics`): `sizeInBytes` is
  *    the byte sum of the files that SURVIVE pruning, so a pruned
  *    manifest scan under a join becomes broadcast-eligible exactly
  *    when its surviving bytes fit the threshold.
  *  - '''Snapshot isolation / time travel''': the planned file set is
  *    frozen from one manifest version at `inferSchema` time;
  *    concurrent commits are invisible to a running query.
  *
  * Scope: data columns are whatever Spark's parquet reader and writer
  * carry, nested arrays and maps included. Partition columns are typed
  * from the path values by [[Manifest.partValue]], the inverse of the
  * writer's formatting. Schema = the
  * manifest's schema header (the layer's evolution contract, q112):
  * columns absent from older commits' files read back as NULL.
  *
  * This is the one read path of the format: [[Manifest.read]] and its
  * siblings plan the same scan over a snapshot's files
  * ([[ManifestConnector.resolved]]).
  *
  * 100 TB posture: planning reads one manifest (O(files) driver text,
  * schema from its header) and plans one input partition per data
  * file. An unpartitioned scan runs each file as its own task; a
  * partitioned scan reports [[KeyGroupedPartitioning]], so Spark runs
  * each partition value's files as one task. No shuffle, no driver data
  * IO. Every file decodes through Spark's own
  * vectorized parquet reader ([[ManifestColumnarReader]]) as
  * `ColumnarBatch`es; scans with pending merge-on-read deletes consume
  * the same batches through a row view ([[ManifestRowView]]).
  */
class ManifestDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-manifest"

  // inferSchema + getTable are called back-to-back with the same
  // options; cache the (driver-side, metadata-only) resolution.
  @volatile private var cached: Option[(Map[String, String],
    ManifestConnector.Resolved)] = None

  private def resolved(opts: Map[String, String])
      : ManifestConnector.Resolved = cached match {
    case Some((k, r)) if k == opts => r
    case _ =>
      val r = ManifestConnector.resolve(SparkSession.active, opts)
      cached = Some((opts, r))
      r
  }

  private def optMap(o: CaseInsensitiveStringMap): Map[String, String] =
    o.asCaseSensitiveMap().asScala.toMap.map { case (k, v) =>
      k.toLowerCase -> v }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val opts = optMap(options)
    val base = resolved(opts).declared
    if (opts.get("cdc").contains("true"))
      ManifestConnector.cdcSchema(base)
    else base
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table = {
    val opts = properties.asScala.toMap.map { case (k, v) =>
      k.toLowerCase -> v }
    ManifestTable(resolved(opts), cdc = opts.get("cdc").contains("true"))
  }
}

/** Driver-side resolution + shared helpers (partition and zone-map
  * filter evaluation, DML predicate translation). */
object ManifestConnector {

  /** Columns a CDC stream appends to the table schema: what happened
    * and at which commit. Values are injected per input partition
    * through the constant-column machinery — never read from files. */
  val cdcMetaFields: Array[org.apache.spark.sql.types.StructField] =
    Array(
      org.apache.spark.sql.types.StructField("_change_type",
        org.apache.spark.sql.types.StringType, nullable = true),
      org.apache.spark.sql.types.StructField("_commit_version",
        org.apache.spark.sql.types.LongType, nullable = true))

  /** A CDC read's schema: every table column forced NULLABLE (delete
    * rows carry NULL for everything but the key columns — a
    * non-nullable declaration would silently decode those NULLs as
    * zero/empty) plus the meta columns. */
  def cdcSchema(base: StructType): StructType =
    StructType(base.fields.map(_.copy(nullable = true)) ++ cdcMetaFields)

  /** Metadata columns a batch read can select (`SELECT _file,
    * _commit_version FROM t`): row-level lineage, injected per input
    * partition through the constant-column machinery. Hidden unless
    * referenced; not advertised in CDC mode (whose schema already
    * owns `_commit_version` as a REAL column). */
  val metadataColumnFields: Array[org.apache.spark.sql.types.StructField] =
    Array(
      org.apache.spark.sql.types.StructField("_file",
        org.apache.spark.sql.types.StringType, nullable = true),
      org.apache.spark.sql.types.StructField("_commit_version",
        org.apache.spark.sql.types.LongType, nullable = true))

  final case class FileInfo(absPath: String, size: Long,
                            partValues: Seq[(String, String)],
                            stats: Option[graft.sources.ManifestStats
                              .FileStats] = None,
                            seq: Long = 0L)

  /** `declared` = the manifest's schema header: column order and
    * partition column TYPES come from it. `tableMeta` = the snapshot's
    * headers, which a row-level rewrite through this resolution
    * publishes ([[Manifest.commitRewrite]]). */
  final case class Resolved(root: String, version: Long,
                            files: Seq[FileInfo], partCols: Seq[String],
                            dataSchema: StructType,
                            declared: StructType,
                            deletes: Seq[Manifest.DeleteEntry] = Nil,
                            branch: Option[String] = None,
                            tableMeta: Map[String, String] = Map.empty) {
    /** Merge-on-read delete files applying to `f` (strictly newer than
      * the file's data sequence), as executor-shippable specs. */
    def deleteSpecsFor(f: FileInfo): Array[DeleteFileSpec] =
      deletes.filter(_.seq > f.seq).map(d =>
        DeleteFileSpec(graft.sources.Manifest.absEntryPath(root, d.path),
          d.keyCols.toArray)).toArray
    /** `f`'s manifest entry path: root-relative, or the absolute path
      * of a foreign (clone-borrowed) entry. */
    def relPath(f: FileInfo): String =
      f.absPath.stripPrefix(root).stripPrefix("/")
  }

  /** Resolve the load options (root plus at most one of version,
    * timestampAsOf, stage, branch) to a snapshot, then to its
    * [[resolved]] scan input with the snapshot's pending deletes. */
  def resolve(spark: SparkSession, opts: Map[String, String]): Resolved = {
    val root = opts.getOrElse("path", throw new IllegalArgumentException(
      "graft-manifest needs a load(path) pointing at a manifest table root"))
    // option keys arrive lowercased (CaseInsensitiveStringMap)
    require(Seq("version", "timestampasof", "stage", "branch")
        .count(opts.contains) <= 1,
      "give at most one of version, timestampAsOf, stage, branch")
    // `VERSION AS OF 'branch:name'` reads a branch head through SQL —
    // the version slot is the only channel SQL time travel carries
    val branchOpt: Option[String] = opts.get("branch").orElse(
      opts.get("version").collect {
        case v if v.startsWith("branch:") => v.stripPrefix("branch:") })
    // the CDC feed resolves MAIN-CHAIN manifests by version number; a
    // branch's version numbers live on its own chain, so combining the
    // two would silently serve main's changes as the branch's
    require(!(branchOpt.isDefined && opts.contains("cdc")),
      "option(branch) cannot combine with cdc: the change feed is " +
        "defined over the main version chain")
    val snap = (opts.get("stage"), branchOpt) match {
      case (Some(id), _) => // audit read of an unpublished staged commit
        Manifest.stageMeta(spark, root, id)
      case (_, Some(name)) => // branch head (writable fork)
        Manifest.branchMeta(spark, root, name)
      case _ =>
        val version = opts.get("version")
          .map(Manifest.resolveVersion(spark, root, _)) // number or tag
          .orElse(opts.get("timestampasof").map(ts =>
            Manifest.versionAt(spark, root, ts.toLong)))
          .orElse(Manifest.latestVersion(spark, root))
          .getOrElse(throw new IllegalStateException(
            s"$root has no committed manifest version"))
        Manifest.snapshotMeta(spark, root, version)
    }
    resolved(root, snap, snap.entries, snap.deletes, branchOpt)
  }

  /** The frozen scan input over `entries` of snapshot `snap`, with the
    * merge-on-read `deletes` its tasks apply: file list, partition
    * layout and schema from the manifest alone, zero filesystem
    * listings or footer reads. Every manifest read plans through here:
    * [[resolve]] for `load(root)`, [[Manifest.read]] and its siblings
    * for a snapshot's file subset. */
  def resolved(root: String, snap: Manifest.SnapshotMeta,
               entries: Seq[Manifest.FileEntry],
               deletes: Seq[Manifest.DeleteEntry],
               branch: Option[String] = None): Resolved = {
    // sizes come straight from the manifest (files are immutable, so
    // the commit-time length is exact) — zero filesystem calls
    val files = entries.map { e =>
      FileInfo(Manifest.absEntryPath(root, e.path), e.size,
        Manifest.partValuesOf(e.path), e.fileStats, e.dataSeq)
    }
    // schema header = zero parquet footer reads at planning time
    val full = snap.schema
    val partCols = snap.partCols
    // partition layout must match the declared one on EVERY file: a
    // single odd file would otherwise silently miss every partition
    // filter (dropped rows, no error). Fails loudly at resolve time;
    // rewrite (commitReplace) to converge.
    val layouts = files.map(_.partValues.map(_._1)).distinct
    require(layouts.isEmpty || layouts == Seq(partCols),
      s"graft-manifest: mixed partition layouts — files of $root " +
        s"v${snap.version} are laid out as " +
        layouts.map(_.mkString("[", ",", "]")).mkString(" vs ") +
        s" but the manifest declares ${partCols.mkString("[", ",", "]")}")
    val dataSchema = StructType(
      full.filterNot(f => partCols.contains(f.name)))
    Resolved(root, snap.version, files, partCols, dataSchema, full,
      deletes, branch, snap.meta)
  }

  /** Can this filter be decided from partition values alone (and is it
    * a shape we evaluate)? Strict: unknown shapes are NOT consumed. */
  def isPartitionFilter(f: SFilter, partCols: Set[String]): Boolean =
    f.references.nonEmpty && f.references.forall(partCols.contains) &&
      partitionEvaluable(f)

  private def partitionEvaluable(f: SFilter): Boolean = f match {
    case EqualTo(_, v)       => v != null
    case EqualNullSafe(_, _) => true
    case In(_, vs)           => vs != null
    case IsNotNull(_)        => true
    case IsNull(_)           => true
    case And(l, r) => partitionEvaluable(l) && partitionEvaluable(r)
    case Or(l, r)  => partitionEvaluable(l) && partitionEvaluable(r)
    case Not(c)    => partitionEvaluable(c)
    case _ => false
  }

  /** The files of `files` that may hold a row matching every filter —
    * the one pruning rule of batch reads, runtime filters, stream
    * batches and row-level DML groups. Each filter is classified once:
    *
    *  - partition-only, of a shape [[isPartitionFilter]] accepts: Kleene
    *    three-valued [[evalPartitionFilter]] on the file's partition
    *    values. Under READ polarity (`group = false`) the scan consumes
    *    the filter (Spark never re-evaluates it), so a file survives
    *    only where it is definitely TRUE: UNKNOWN drops it, as WHERE
    *    drops a NULL (two-valued logic would keep a
    *    `__HIVE_DEFAULT_PARTITION__` file under `part <> 'a'`). Under
    *    GROUP polarity (`group = true`, the files a row-level DML
    *    rewrites whole) a file is dropped only where the filter is
    *    definitely FALSE: a kept group is rewritten verbatim, a dropped
    *    one must provably hold no matching row.
    *  - `_file` `=` / `IN` (the row-level runtime group filter): kept
    *    only when the file's path is one of the values — exact under
    *    both polarities, a file's rows all carry its path.
    *  - data-only: the zone map ([[mayMatch]]) and the bloom sidecars
    *    ([[graft.sources.ManifestBlooms]]) drop a file only when no row
    *    of it can match, which is sound under both polarities.
    *  - anything else (columns of both kinds, no column, a partition
    *    shape we do not evaluate): keeps the file. */
  private[graft] def keepFiles(res: Resolved, files: Seq[FileInfo],
                               filters: Seq[SFilter],
                               group: Boolean): Seq[FileInfo] = {
    val partCols = res.partCols.toSet
    val (part, rest) = filters.partition(isPartitionFilter(_, partCols))
    val paths = rest.collect {
      case EqualTo("_file", v) => Set(v)
      case In("_file", vs)     => vs.toSet
    }
    val data = rest.filter(f => f.references.nonEmpty &&
      !f.references.exists(c => partCols(c) || c == "_file"))
    // None unless the table advertises blooms and a data filter is
    // bloom-decidable: the common case costs no file system call
    val blooms = graft.sources.ManifestBlooms.prunerFor(res.root,
      res.dataSchema, res.tableMeta, data.toArray)
    val relPrefix = s"${res.root}/"
    files.filter { f =>
      lazy val pv = f.partValues.toMap
      paths.forall(_.contains(f.absPath)) && part.forall { flt =>
        val v = evalPartitionFilter(flt, pv)
        if (group) !v.contains(false) else v.contains(true)
      } && f.stats.forall(st => data.forall(mayMatch(_, st))) &&
        blooms.forall(_.mayMatch(f.absPath.stripPrefix(relPrefix)))
    }
  }

  /** Kleene three-valued evaluation of a partition filter against one
    * file's partition values: `Some(true/false)` when decided, `None`
    * when the comparison is NULL (unknown). Filter values compare as
    * [[Manifest.partString]] text, the writer's own path rule, so a
    * whole-second timestamp matches its path. */
  private def evalPartitionFilter(f: SFilter,
                                  pv: Map[String, String]): Option[Boolean] =
    f match {
      case EqualTo(c, v) => pv.get(c).flatMap(x =>
        if (x == null) None else Some(x == Manifest.partString(v)))
      case EqualNullSafe(c, v) => pv.get(c).map(x =>
        if (v == null) x == null
        else x != null && x == Manifest.partString(v))
      case In(c, vs) => pv.get(c).flatMap { x =>
        if (x == null) None
        else if (vs.exists(v => v != null && x == Manifest.partString(v)))
          Some(true)
        else if (vs.contains(null)) None // x IN (..., NULL) miss = unknown
        else Some(false)
      }
      case IsNotNull(c) => pv.get(c).map(_ != null)
      case IsNull(c)    => pv.get(c).map(_ == null)
      case And(l, r) =>
        (evalPartitionFilter(l, pv), evalPartitionFilter(r, pv)) match {
          case (Some(false), _) | (_, Some(false)) => Some(false)
          case (Some(true), Some(true))            => Some(true)
          case _                                   => None
        }
      case Or(l, r) =>
        (evalPartitionFilter(l, pv), evalPartitionFilter(r, pv)) match {
          case (Some(true), _) | (_, Some(true)) => Some(true)
          case (Some(false), Some(false))        => Some(false)
          case _                                 => None
        }
      case Not(c) => evalPartitionFilter(c, pv).map(!_)
      case _ => None // unreachable: gated by partitionEvaluable
    }

  /** Conservative "can any row of a file with these stats satisfy this
    * data filter?" — the manifest zone-map skip
    * ([[graft.sources.ManifestStats]]); unknown shapes answer true. */
  private def mayMatch(f: SFilter,
                       st: graft.sources.ManifestStats.FileStats): Boolean = {
    import graft.sources.ManifestStats._
    f match {
      case EqualTo(c, v) if v != null       => mayEqual(st, c, v)
      case EqualNullSafe(c, null)           => mayBeNull(st, c)
      case EqualNullSafe(c, v)              => mayEqual(st, c, v)
      case GreaterThan(c, v) if v != null   => mayCompare(st, c, "gt", v)
      case GreaterThanOrEqual(c, v) if v != null =>
        mayCompare(st, c, "ge", v)
      case LessThan(c, v) if v != null      => mayCompare(st, c, "lt", v)
      case LessThanOrEqual(c, v) if v != null =>
        mayCompare(st, c, "le", v)
      case In(c, vs) if vs != null =>
        vs.exists(v => v != null && mayEqual(st, c, v))
      case IsNull(c)    => mayBeNull(st, c)
      case IsNotNull(c) => mayBeNonNull(st, c)
      case And(l, r)    => mayMatch(l, st) && mayMatch(r, st)
      case Or(l, r)     => mayMatch(l, st) || mayMatch(r, st)
      case _ => true
    }
  }

  /** DELETE predicates of pure key shape — a conjunction of
    * `col = lit` / `col IN (lits)` over DISTINCT columns — as the
    * cross-product key-tuple set they denote. This is what lets
    * `DELETE FROM t WHERE id IN (...)` run as a merge-on-read
    * metadata commit: the keys come straight off the predicate, no
    * scan. `None` for any other shape (ranges, arithmetic, NULLs,
    * repeated columns), or when the cross product exceeds 10k tuples
    * — those take the row-level rewrite. Only eligible when each
    * literal's type equals the table column's type exactly (Spark
    * would otherwise have wrapped the column in a cast, which already
    * disqualifies the shape). */
  def predicatesToKeys(predicates: Array[org.apache.spark.sql.connector
        .expressions.filter.Predicate], table: StructType)
      : Option[(Seq[String], Seq[Seq[Any]])] = {
    import org.apache.spark.sql.connector.expressions.{Expression => V2Expr, GeneralScalarExpression, Literal => V2Literal, NamedReference}
    def flat(e: V2Expr): Seq[V2Expr] = e match {
      case g: GeneralScalarExpression
          if g.name == "AND" && g.children.length == 2 =>
        g.children().toSeq.flatMap(flat)
      case x => Seq(x)
    }
    // a key literal: non-null, simple external value, and typed
    // EXACTLY like the table column (else createDataFrame would lie)
    def simpleValue(c: String, l: V2Literal[_]): Option[Any] = {
      val v = l.value
      if (v == null) return None // `= NULL` never matches; leave to CoW
      if (!table.fieldNames.contains(c) ||
          table(c).dataType != l.dataType) return None
      l.dataType match {
        case StringType => Some(v.toString)
        case BooleanType | IntegerType | LongType | DoubleType |
             FloatType | ShortType | ByteType => Some(v)
        case _ => None
      }
    }
    def colValues(e: V2Expr): Option[(String, Seq[Any])] = e match {
      case g: GeneralScalarExpression =>
        (g.name, g.children().toSeq) match {
          case ("=", Seq(r: NamedReference, l: V2Literal[_]))
              if r.fieldNames.length == 1 =>
            simpleValue(r.fieldNames.head, l)
              .map(v => r.fieldNames.head -> Seq(v))
          case ("=", Seq(l: V2Literal[_], r: NamedReference))
              if r.fieldNames.length == 1 =>
            simpleValue(r.fieldNames.head, l)
              .map(v => r.fieldNames.head -> Seq(v))
          case ("IN", (r: NamedReference) +: lits)
              if r.fieldNames.length == 1 && lits.nonEmpty =>
            val vs = lits.map {
              case l: V2Literal[_] => simpleValue(r.fieldNames.head, l)
              case _               => None
            }
            if (vs.exists(_.isEmpty)) None
            else Some(r.fieldNames.head -> vs.flatten)
          case _ => None
        }
      case _ => None
    }
    val conjuncts = predicates.toSeq.flatMap(flat)
    if (conjuncts.isEmpty) return None // unconditional DELETE = truncate
    val extracted = conjuncts.map(colValues)
    if (extracted.exists(_.isEmpty)) return None
    val byCol = extracted.flatten
    val cols = byCol.map(_._1)
    if (cols.distinct.size != cols.size) return None
    // running bound with early exit: a plain product of many large
    // IN lists can overflow Long to a negative value and slip past
    // the cap, then OOM the driver materializing the cross product
    var bound = 1L
    byCol.foreach { case (_, vs) =>
      bound *= vs.size.toLong
      if (bound > 10000L) return None
    }
    val tuples = byCol.foldLeft(Seq(Seq.empty[Any])) {
      case (acc, (_, vs)) => acc.flatMap(t => vs.map(t :+ _))
    }
    Some((cols, tuples))
  }

  /** Is this a data filter we can hand to parquet? (column set checked
    * by the caller; here just the shape + value types) */
  def parquetTranslatable(f: SFilter): Boolean = f match {
    case EqualTo(_, v)            => simpleValue(v)
    case GreaterThan(_, v)        => simpleValue(v)
    case GreaterThanOrEqual(_, v) => simpleValue(v)
    case LessThan(_, v)           => simpleValue(v)
    case LessThanOrEqual(_, v)    => simpleValue(v)
    case In(_, vs) => vs != null && vs.length <= 32 && vs.forall(simpleValue)
    case IsNull(_) | IsNotNull(_) => true
    case And(l, r) => parquetTranslatable(l) && parquetTranslatable(r)
    case Or(l, r)  => parquetTranslatable(l) && parquetTranslatable(r)
    case Not(c)    => parquetTranslatable(c)
    case _ => false
  }

  private def simpleValue(v: Any): Boolean = v match {
    case null => false
    // a float/double zero stays residual only: parquet's dictionary
    // filter orders -0.0 below 0.0 (`d = -0.0` dropped a row group
    // holding 0.0), Spark compares them equal
    case x: Float  => x != 0f
    case x: Double => x != 0d
    case _: Boolean | _: Int | _: Long | _: Short | _: Byte |
         _: String => true
    case _ => false
  }
}

/** Reads plan against the frozen `res` snapshot; writes commit through
  * the manifest protocol via the NATIVE V2 batch write — executors
  * stage the parquet files themselves (the driver sees only their
  * per-file entries) and the commit is the same atomic
  * create-if-absent publish every other writer uses (exactly-once,
  * snapshot-isolated, time-travelable). INSERT INTO = append commit;
  * INSERT OVERWRITE/truncate = replace commit; partitioned tables
  * declare a clustered write distribution so inserts write O(values)
  * files.
  *
  * SQL DML rides the standard V2 mix-ins. `UPDATE`, `MERGE INTO` and
  * `DELETE FROM t WHERE ...` are row-level rewrites of the files they
  * touch ([[ManifestRowLevelOperation]]; untouched files carry by
  * reference, history stays time-travelable), and so are the Scala
  * [[Manifest.mergeInto]] and [[Manifest.deleteWhere]].
  * `SupportsDelete` takes only the metadata-only shapes: a keyed
  * merge-on-read DELETE and the unconditional one ([[deleteWhere]]) —
  * the SQL-level parity for the reference's item update/delete
  * surface (reference: python-data-ingestions/index-data-lambda.py:
  * 164-172; Athena SQL, query-data-lambda.py:195-218). */
final case class ManifestTable(res: ManifestConnector.Resolved,
                               cdc: Boolean = false)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDeleteV2
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  /** `SELECT _file, _commit_version FROM t` — row-level lineage from
    * the manifest's own per-file facts, zero extra IO. Not advertised
    * in CDC mode, whose schema owns `_commit_version` outright. */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    if (cdc) Array.empty
    else ManifestConnector.metadataColumnFields.map { f =>
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = f.name
        override def dataType(): org.apache.spark.sql.types.DataType =
          f.dataType
        override def isNullable: Boolean = true
      }
    }
  override def name(): String = s"graft-manifest ${res.root} v${res.version}"
  override def schema(): StructType =
    if (cdc) ManifestConnector.cdcSchema(res.declared)
    else res.declared

  /** Surface snapshot facts to DESCRIBE EXTENDED / SHOW TBLPROPERTIES:
    * pinned version, layout, and the planned file/byte footprint. */
  override def properties(): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    m.put("format", "graft-manifest")
    m.put("version", res.version.toString)
    m.put("partition-columns", res.partCols.mkString(","))
    m.put("files", res.files.length.toString)
    m.put("size-bytes", res.files.map(_.size).sum.toString)
    m
  }
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)

  /** The version the last DML through this table object committed
    * (its read version while none has): what [[Manifest.mergeInto]]
    * and [[Manifest.deleteWhere]] return after planning through it. */
  @volatile private[graft] var published: Long = res.version

  /** Keyed merge-on-read shape (see [[deleteWhere]]) or the
    * unconditional `AlwaysTrue`; every other DELETE is planned as a
    * row-level rewrite ([[ManifestRowLevelOperation]]). */
  override def canDeleteWhere(predicates: Array[org.apache.spark.sql
      .connector.expressions.filter.Predicate]): Boolean =
    predicates.forall(_.name == "ALWAYS_TRUE") || morKeys(predicates).isDefined

  private def morKeys(predicates: Array[org.apache.spark.sql.connector
      .expressions.filter.Predicate]): Option[(Seq[String], Seq[Seq[Any]])] =
    if (SparkSession.active.conf.getOption("spark.graft.manifest.delete.mode")
        .contains("merge-on-read"))
      ManifestConnector.predicatesToKeys(predicates, res.declared)
    else None

  /** The two metadata-only DELETEs; applies to the CURRENT snapshot —
    * DML never targets a pinned version.
    *
    * With `spark.graft.manifest.delete.mode=merge-on-read`, a DELETE
    * whose predicate is a pure key shape (`col = lit` / `col IN
    * (...)` conjunctions) commits the keys as a delete file instead
    * of rewriting data — O(keys) regardless of table size
    * ([[graft.sources.Manifest.deleteByKeys]]). `DELETE FROM t` and
    * `TRUNCATE TABLE` arrive as `AlwaysTrue` and commit a rewrite
    * that removes every file and writes none, with no data IO. */
  override def deleteWhere(predicates: Array[org.apache.spark.sql
      .connector.expressions.filter.Predicate]): Unit = {
    val spark = SparkSession.active
    published = morKeys(predicates) match {
      case Some((cols, tuples)) =>
        val schema = StructType(
          cols.map(c => res.declared(c).copy(nullable = false)))
        val rows: java.util.List[org.apache.spark.sql.Row] =
          java.util.Arrays.asList(tuples.map(t =>
            org.apache.spark.sql.Row.fromSeq(t)): _*)
        Manifest.deleteByKeys(spark, res.root,
          spark.createDataFrame(rows, schema))
      case None =>
        Manifest.commitRewrite(spark, res, res.files.map(res.relPath).toSet,
          Nil)
    }
  }

  /** SQL UPDATE / MERGE INTO / DELETE, and [[Manifest.mergeInto]] /
    * [[Manifest.deleteWhere]] — group-based copy-on-write via Spark's
    * ReplaceData rewrite; see [[ManifestRowLevelOperation]]. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    () => new ManifestRowLevelOperation(this, info.command())
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = {
    require(!(options.containsKey("startingVersion") &&
        options.containsKey("startingTimestamp")),
      "give either startingVersion or startingTimestamp, not both")
    new ManifestScanBuilder(res,
      Option(options.get("maxVersionsPerTrigger")).map(_.toLong), cdc,
      Option(options.get("startingVersion")),
      Option(options.get("startingTimestamp")).map(_.toLong),
      Option(options.get("changesFrom")).map(_.toLong))
  }

  /** NATIVE V2 batch write (INSERT INTO / INSERT OVERWRITE): executors
    * stream rows straight into staged parquet files (same data plane
    * as the streaming sink and row-level rewrites — the driver never
    * holds a DataFrame) and the driver publishes their per-file
    * entries as one atomic commit. Declares
    * `RequiresDistributionAndOrdering`: a PARTITIONED table asks Spark
    * to cluster incoming rows by the partition columns, so an INSERT
    * with T tasks over P partition values writes O(P) files instead of
    * the O(T×P) small-files explosion, by default wherever Spark can
    * plan the exchange (the same default Delta/Iceberg chose). The
    * Scala API's commits add no exchange; their callers repartition
    * explicitly. */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var replace = false
      override def truncate(): WriteBuilder = { replace = true; this }
      override def build(): Write = new Write
          with org.apache.spark.sql.connector.write
            .RequiresDistributionAndOrdering {
        override def requiredDistribution()
            : org.apache.spark.sql.connector.distributions.Distribution =
          if (res.partCols.isEmpty)
            org.apache.spark.sql.connector.distributions.Distributions
              .unspecified()
          else
            org.apache.spark.sql.connector.distributions.Distributions
              .clustered(res.partCols.map(c =>
                org.apache.spark.sql.connector.expressions.Expressions
                  .identity(c)).toArray[
                org.apache.spark.sql.connector.expressions.Expression])
        override def requiredOrdering()
            : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
          Array.empty
        // clustering is an optimization, not a correctness need: let
        // AQE skip/shrink the exchange for tiny inserts
        override def distributionStrictlyRequired(): Boolean = false

        override def toBatch: org.apache.spark.sql.connector.write
            .BatchWrite =
          new ManifestBatchWrite(res, info.schema(), replace)

        // the streaming plane of the SAME builder: executor-staged
        // files, exactly-once epoch commits (see ManifestStreamingWrite)
        override def toStreaming: org.apache.spark.sql.connector.write
            .streaming.StreamingWrite =
          new ManifestStreamingWrite(res, info.queryId(), info.schema(),
            Option(info.options.get("autocompactevery")).map { s =>
              val n = try s.toLong catch {
                case _: NumberFormatException =>
                  throw new IllegalArgumentException(
                    s"autoCompactEvery must be a positive integer " +
                      s"(got '$s')")
              }
              require(n > 0,
                s"autoCompactEvery must be positive (got $n)")
              n
            })
      }
    }
}

/** Driver half of the native batch INSERT: collect the executors'
  * staged file entries and publish ONE atomic append/replace
  * commit. Commit conflicts with concurrent writers retry (the staged
  * files are already on disk — a retry is one manifest re-read, no
  * data rewrite); aborts delete whatever the failed tasks staged. */
final class ManifestBatchWrite(res: ManifestConnector.Resolved,
    schema: StructType, replace: Boolean)
    extends org.apache.spark.sql.connector.write.BatchWrite {

  import org.apache.spark.sql.connector.write.{DataWriterFactory, PhysicalWriteInfo, WriterCommitMessage}

  private def spark = SparkSession.active
  private val salt = java.util.UUID.randomUUID().toString.take(8)

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DataWriterFactory = {
    ManifestWriterFactory(spark, res.root, s"b$salt", schema, res.partCols)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val entries = ManifestWriteMessage.entriesOf(messages)
    var attempt = 0
    var done = false
    while (!done) {
      try {
        Manifest.commitStagedEntries(spark, res.root, entries, schema,
          res.partCols, replace)
        done = true
      } catch {
        // both faces of the concurrent-writer race (see the streaming
        // sink's identical loop): the staged data is safe, retry the
        // metadata claim a bounded number of times
        case e: IllegalStateException
            if Option(e.getMessage).exists(_.contains("commit conflict")) && attempt < 3 =>
          attempt += 1; Manifest.raceBackoff(attempt)
        case e: IllegalArgumentException
            if Option(e.getMessage).exists(_.contains("torn manifest read")) && attempt < 3 =>
          attempt += 1; Manifest.raceBackoff(attempt)
      }
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    ManifestWriter.deleteStaged(spark, res.root,
      ManifestWriteMessage.entriesOf(messages))
}

final class ManifestScanBuilder(res: ManifestConnector.Resolved,
                                maxVersionsPerTrigger: Option[Long] = None,
                                cdc: Boolean = false,
                                startingVersion: Option[String] = None,
                                startingTimestamp: Option[Long] = None,
                                changesFrom: Option[Long] = None)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownLimit
    with SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownTopN {

  private var required: StructType =
    if (cdc) ManifestConnector.cdcSchema(res.declared)
    else res.declared
  private var partitionFilters: Array[SFilter] = Array.empty
  private var dataFilters: Array[SFilter] = Array.empty
  private var limit: Int = -1
  private var aggPlan: Option[(StructType, Array[Array[Any]])] = None

  override def pushFilters(filters: Array[SFilter]): Array[SFilter] = {
    // CDC mode consumes NOTHING: retraction rows carry NULL partition
    // values (a delete-key file belongs to no partition), so a
    // consumed partition filter would silently re-admit or drop them —
    // Spark evaluates every filter on the emitted rows instead
    if (cdc) return filters
    val partCols = res.partCols.toSet
    val (part, rest) = filters.partition(
      ManifestConnector.isPartitionFilter(_, partCols))
    partitionFilters = part
    // record-skippable conjuncts: data columns only, supported shape —
    // handed to parquet per-file AND kept as residuals (IO skip only)
    dataFilters = rest.filter(f => f.references.nonEmpty &&
      !f.references.exists(partCols.contains) &&
      ManifestConnector.parquetTranslatable(f))
    rest // partition filters are fully consumed here; rest are residual
  }

  override def pushedFilters(): Array[SFilter] =
    partitionFilters ++ dataFilters

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushLimit(n: Int): Boolean = { limit = n; true }
  override def isPartiallyPushed: Boolean = true

  // computed after pushFilters (Spark pushes filters before aggregates
  // and before build), consumed up to three times — memoize
  private lazy val survivingFiles = ManifestConnector.keepFiles(res,
    res.files, partitionFilters ++ dataFilters, group = false)

  /** COMPLETE aggregate pushdown answered from the manifest zone maps
    * alone: `count(*)` / `count(col)` / `min(col)` / `max(col)`,
    * ungrouped or GROUPED BY PARTITION COLUMNS, become driver-computed
    * rows (one per partition tuple) — zero data IO, zero tasks per
    * file, at any table size. `SELECT lang, count(*) FROM corpus
    * GROUP BY lang` — the composition query every training pipeline
    * runs — never touches a data page. Partition filters compose
    * (they prune whole files before the stats are summed).
    *
    * Everything here is REFUSE-BY-DEFAULT: residual data filters
    * (stats can't evaluate them), pending merge-on-read deletes
    * (footer counts overestimate), any file without stats, any column
    * without an entry in every file, bounds absent on a not-provably-
    * all-NULL file, distinct counts, grouping by anything but
    * partition columns, or a column type whose bound string does not
    * round-trip EXACTLY to the Spark internal value
    * (int/long/float/double/date only — strings are excluded until
    * footer truncation is ruled out, timestamps until the unit is
    * pinned) — all fall back to the ordinary scan. */
  // Spark calls supportCompletePushDown then pushAggregation with the
  // SAME Aggregation — memoize the driver-side stats fold
  private var aggMemo: Option[(org.apache.spark.sql.connector
    .expressions.aggregate.Aggregation,
    Option[(StructType, Array[Array[Any]])])] = None

  private def planAggregateMemo(
      agg: org.apache.spark.sql.connector.expressions.aggregate
        .Aggregation): Option[(StructType, Array[Array[Any]])] =
    aggMemo match {
      case Some((a, r)) if a eq agg => r
      case _ =>
        val r = planAggregate(agg)
        aggMemo = Some((agg, r))
        r
    }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate
        .Aggregation): Boolean =
    planAggregateMemo(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate
        .Aggregation): Boolean = {
    aggPlan = planAggregateMemo(agg)
    aggPlan.isDefined
  }

  private def planAggregate(
      agg: org.apache.spark.sql.connector.expressions.aggregate
        .Aggregation): Option[(StructType, Array[Array[Any]])] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate.{Count, CountStar, Max, Min}
    if (cdc) return None // CDC scans are streaming-only row feeds
    if (dataFilters.nonEmpty || limit >= 0) return None
    val files = survivingFiles
    if (files.exists(f => res.deleteSpecsFor(f).nonEmpty)) return None
    if (files.exists(_.stats.isEmpty)) return None
    val partSet = res.partCols.toSet

    def colName(e: org.apache.spark.sql.connector.expressions
        .Expression): Option[String] = e match {
      case nr: NamedReference if nr.fieldNames.length == 1 =>
        Some(nr.fieldNames.head)
      case _ => None
    }
    // Float/double are deliberately absent: parquet footer min/max may
    // omit NaN from the envelope while Spark's max() ranks NaN above
    // every value, so [1.0, NaN] would answer max = 1.0 from stats.
    // Without a NaN count in the stats (Iceberg's nan_value_counts)
    // the bounds are not authoritative — refuse and let the scan run.
    def boundValue(dt: DataType, s: String): Option[Any] = dt match {
      case IntegerType => s.toIntOption
      case LongType    => s.toLongOption
      case DateType    => s.toIntOption // days since epoch = internal
      case _           => None
    }
    def lt(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Int, y: Int)       => x < y
      case (x: Long, y: Long)     => x < y
      case (x: Float, y: Float)   => x < y
      case (x: Double, y: Double) => x < y
      case _                      => false
    }

    // GROUP BY is supported over partition columns only: the groups
    // are the distinct partition tuples, and every group aggregates
    // its own files' stats
    val groupCols = agg.groupByExpressions.toSeq.map(e =>
      colName(e).filter(partSet).getOrElse(return None))
    val groupFields = groupCols.map(c =>
      res.declared.find(_.name == c).getOrElse(return None))

    // the output field list (validated against schema/part layout) is
    // group-independent; per-group VALUES are computed below
    sealed trait AggSpec
    case object CountStarSpec extends AggSpec
    case class CountColSpec(name: String) extends AggSpec
    case class MinMaxSpec(field: StructField, isMin: Boolean)
        extends AggSpec
    val specs: Seq[(StructField, AggSpec)] =
      agg.aggregateExpressions.toSeq.map {
        case _: CountStar =>
          StructField("count_star", LongType, false) -> CountStarSpec
        case c: Count if !c.isDistinct =>
          val name = colName(c.column).getOrElse(return None)
          if (partSet(name)) return None // part cols carry no stats
          if (!res.declared.fieldNames.contains(name)) return None
          StructField(s"count_$name", LongType, false) ->
            CountColSpec(name)
        case m: Min =>
          val name = colName(m.column).getOrElse(return None)
          if (partSet(name)) return None
          val f = res.declared.find(_.name == name).getOrElse(
            return None)
          StructField(s"min_$name", f.dataType, nullable = true) ->
            MinMaxSpec(f, isMin = true)
        case m: Max =>
          val name = colName(m.column).getOrElse(return None)
          if (partSet(name)) return None
          val f = res.declared.find(_.name == name).getOrElse(
            return None)
          StructField(s"max_$name", f.dataType, nullable = true) ->
            MinMaxSpec(f, isMin = false)
        case _ => return None
      }

    /** Aggregate values over one file group's stats; None refuses the
      * whole pushdown (a missing entry is indistinguishable from
      * failed stats collection). */
    def valuesOf(group: Seq[ManifestConnector.FileInfo])
        : Option[Array[Any]] = {
      val sts = group.flatMap(_.stats)
      val totalRows = sts.map(_.rows).sum
      def eachCol(name: String)
          : Option[Seq[(graft.sources.ManifestStats.FileStats,
                        graft.sources.ManifestStats.ColStats)]] = {
        val per = sts.map(fs => fs.cols.get(name).map((fs, _)))
        if (per.forall(_.isDefined)) Some(per.flatten) else None
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[Any]
      specs.foreach {
        case (_, CountStarSpec) => out += totalRows
        case (_, CountColSpec(name)) =>
          val pairs = eachCol(name).getOrElse(return None)
          if (pairs.exists(_._2.nulls.isEmpty)) return None
          out += totalRows - pairs.map(_._2.nulls.get).sum
        case (_, MinMaxSpec(field, isMin)) =>
          val pairs = eachCol(field.name).getOrElse(return None)
          val bounds = scala.collection.mutable.ArrayBuffer.empty[Any]
          pairs.foreach { case (fs, cs) =>
            (if (isMin) cs.min else cs.max) match {
              case Some(s) => bounds +=
                boundValue(field.dataType, s).getOrElse(return None)
              case None if cs.nulls.contains(fs.rows) => () // all-NULL
              case None => return None // bound genuinely unknown
            }
          }
          out += (if (bounds.isEmpty) null
            else bounds.reduce((a, b) => if (lt(a, b) == isMin) a else b))
      }
      Some(out.toArray)
    }

    val schema = StructType(groupFields ++ specs.map(_._1))
    val rows: Array[Array[Any]] =
      if (groupCols.isEmpty) Array(valuesOf(files).getOrElse(return None))
      else files.groupBy(f => groupCols.map(f.partValues.toMap.apply))
        .toSeq.map { case (tuple, group) =>
          val keyVals = tuple.zip(groupFields).map { case (v, f) =>
            Manifest.partValue(v, f.dataType)
          }
          (keyVals ++ valuesOf(group).getOrElse(return None)).toArray
        }.toArray
    Some((schema, rows))
  }

  /** Top-N file pruning (`SupportsPushDownTopN`, PARTIAL): for
    * `ORDER BY col [ASC|DESC] LIMIT n` over a single int/long/date
    * key, the zone maps alone identify a file subset guaranteed to
    * contain a complete top-n — plan only those files; Spark still
    * runs the real sort+limit on what they hold. The argument: sort
    * files by their WORST guaranteed bound (max for ASC) best-first
    * and accumulate row counts until ≥ n — that bound B provably has
    * ≥ n rows at-or-before it, so any file whose BEST value (min for
    * ASC) lies beyond B cannot contribute and is dropped. NULL rows
    * ride the null counts: NULLS FIRST they pre-fill the budget
    * (n nulls → only null-bearing files), NULLS LAST they never rank
    * while ≥ n non-nulls exist. `ORDER BY ts DESC LIMIT 100` on an
    * append-mostly 100 TB table reads the newest few files instead of
    * every file.
    *
    * Refuse-by-default, same discipline as the aggregate path:
    * residual data filters and MoR deletes make footer counts
    * overestimates of contributing rows (the accumulation argument
    * collapses), multi-key sorts need row-level comparison, missing
    * stats/bounds/null counts are indistinguishable from failed
    * collection, and float/double bounds are NaN-unsound. */
  private var topNFiles: Option[Seq[ManifestConnector.FileInfo]] = None

  override def pushTopN(orders: Array[
      org.apache.spark.sql.connector.expressions.SortOrder],
      n: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NamedReference,
      NullOrdering, SortDirection}
    if (cdc || aggPlan.isDefined || n <= 0 || orders.length != 1)
      return false
    if (dataFilters.nonEmpty) return false
    val o = orders.head
    val name = o.expression() match {
      case nr: NamedReference if nr.fieldNames.length == 1 =>
        nr.fieldNames.head
      case _ => return false
    }
    if (res.partCols.contains(name)) return false
    val dt = res.declared.find(_.name == name)
      .map(_.dataType).getOrElse(return false)
    def parse(s: String): Option[Long] = dt match {
      case IntegerType => s.toIntOption.map(_.toLong)
      case LongType    => s.toLongOption
      case DateType    => s.toIntOption.map(_.toLong)
      case _           => None // float/double NaN-unsound; strings truncate
    }
    val files = survivingFiles
    if (files.exists(f => res.deleteSpecsFor(f).nonEmpty)) return false
    val asc = o.direction() == SortDirection.ASCENDING
    val nullsFirst = o.nullOrdering() == NullOrdering.NULLS_FIRST
    // per file: non-null count + directional bounds (lo = best value
    // in sort order, hi = worst bound its non-nulls are guaranteed at)
    case class F(fi: ManifestConnector.FileInfo, nonNull: Long,
                 nulls: Long, lo: Option[Long], hi: Option[Long])
    val parsed: Seq[F] = files.map { fi =>
      val st = fi.stats.getOrElse(return false)
      val cs = st.cols.get(name).getOrElse(return false)
      val nulls = cs.nulls.getOrElse(return false)
      val nonNull = st.rows - nulls
      if (nonNull == 0L) F(fi, 0L, nulls, None, None)
      else {
        val mn = cs.min.flatMap(parse).getOrElse(return false)
        val mx = cs.max.flatMap(parse).getOrElse(return false)
        if (asc) F(fi, nonNull, nulls, Some(mn), Some(mx))
        else F(fi, nonNull, nulls, Some(mx), Some(mn))
      }
    }
    def leq(a: Long, b: Long): Boolean = if (asc) a <= b else a >= b
    val totalNulls = parsed.map(_.nulls).sum
    if (nullsFirst && totalNulls >= n) {
      // the top-n is n NULL rows — any null-bearing file subset with
      // ≥ n nulls is a complete answer; keep them all (conservative)
      topNFiles = Some(parsed.filter(_.nulls > 0).map(_.fi))
      return true
    }
    var cum = if (nullsFirst) totalNulls else 0L
    var bound: Option[Long] = None
    val it = parsed.filter(_.nonNull > 0)
      .sortBy(_.hi.get)(if (asc) Ordering.Long else Ordering.Long.reverse)
      .iterator
    while (bound.isEmpty && it.hasNext) {
      val f = it.next()
      cum += f.nonNull
      if (cum >= n) bound = Some(f.hi.get)
    }
    topNFiles = bound match {
      case None => Some(files) // fewer than n rows total: keep all
      case Some(b) => Some(parsed.filter(f =>
        (nullsFirst && f.nulls > 0) || f.lo.exists(leq(_, b))).map(_.fi))
    }
    true
  }

  override def build(): Scan =
    new ManifestScan(res, topNFiles.getOrElse(survivingFiles),
      required, dataFilters,
      limit, partitionFilters, maxVersionsPerTrigger, aggPlan, cdc,
      startingVersion, startingTimestamp, changesFrom,
      topNPushed = topNFiles.isDefined)
}

final class ManifestScan(res: ManifestConnector.Resolved,
                         val plannedFiles: Seq[ManifestConnector.FileInfo],
                         required: StructType,
                         dataFilters: Array[SFilter],
                         limit: Int,
                         partitionFilters: Array[SFilter] = Array.empty,
                         maxVersionsPerTrigger: Option[Long] = None,
                         aggPlan: Option[(StructType, Array[Array[Any]])] = None,
                         cdc: Boolean = false,
                         startingVersion: Option[String] = None,
                         startingTimestamp: Option[Long] = None,
                         changesFrom: Option[Long] = None,
                         topNPushed: Boolean = false)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {

  override def readSchema(): StructType =
    aggPlan.map(_._1).getOrElse(required)

  /** Runtime (dynamic) file pruning — the DSv2 face of dynamic
    * partition pruning, extended to zone maps and bloom sidecars. A join
    * whose build side is selective hands this scan an `IN (join-key
    * values…)` filter at EXECUTION time, and
    * [[ManifestConnector.keepFiles]] drops the files that cannot match
    * before any task launches; the join still evaluates the real
    * condition. */
  @volatile private var runtimeFiles: Seq[ManifestConnector.FileInfo] =
    plannedFiles

  /** Post-runtime-filter file count (= planned when no filter fired). */
  def runtimeFileCount: Int = runtimeFiles.length

  /** Files the last [[planInputPartitions]] handed to tasks: data files
    * after runtime filtering, CDC data and delete-key files, none for a
    * pushed aggregate. Spark shows it as the scan's `numFiles` metric. */
  @volatile private var filesPlanned = 0L

  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new ManifestNumFilesMetric)

  override def reportDriverMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(new org.apache.spark.sql.connector.metric.CustomTaskMetric {
      override def name(): String = "numFiles"
      override def value(): Long = filesPlanned
    })

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (aggPlan.isDefined || cdc) Array.empty
    // only columns in the scan OUTPUT: Spark resolves these against
    // the (column-pruned) relation and throws on anything absent
    else required.fieldNames.filter(res.declared.fieldNames.contains)
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)

  override def filter(filters: Array[SFilter]): Unit =
    runtimeFiles = ManifestConnector.keepFiles(res, runtimeFiles, filters,
      group = false)

  /** Columnar whenever every planned file reads columnar (no pushed
    * aggregate row, no CDC feed, no merge-on-read deletes), decided
    * here rather than per input partition so that a scan whose files
    * are all pruned plans the same shape as one that reads some. */
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    if (aggPlan.isEmpty && !cdc &&
        plannedFiles.forall(f => res.deleteSpecsFor(f).isEmpty))
      Scan.ColumnarSupportMode.SUPPORTED
    else Scan.ColumnarSupportMode.PARTITION_DEFINED

  /** The scan's rows arrive pre-clustered by the hive partition tuple
    * — report it ([[KeyGroupedPartitioning]] over identity transforms)
    * so that with `spark.sql.sources.v2.bucketing.enabled` a join or
    * aggregation keyed on the partition columns skips its shuffle
    * entirely (storage-partitioned join). Spark groups the per-file
    * input partitions by [[HasPartitionKey]] itself. Spark 4.1 enables
    * that conf by default, so EVERY partitioned scan, a plain read
    * included, runs all of a partition value's files as one task: fewer
    * tasks than file packing on a value with many small files, more on
    * an index scan that probes many single-file cells. At 100 TB a
    * co-partitioned fact-fact join shuffling neither side is the single
    * largest cost this table format can delete. */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    val partCols = res.partCols
    val tuples =
      if (aggPlan.isEmpty && !cdc && partCols.nonEmpty)
        plannedFiles
          .map(f => partCols.map(f.partValues.toMap.apply)).distinct.size
      else 0
    if (tuples > 0) { // a 0-partition report would be malformed
      new org.apache.spark.sql.connector.read.partitioning
        .KeyGroupedPartitioning(
          partCols.map(c => org.apache.spark.sql.connector.expressions
            .Expressions.identity(c)).toArray[
            org.apache.spark.sql.connector.expressions.Expression],
          tuples)
    } else new org.apache.spark.sql.connector.read.partitioning
      .UnknownPartitioning(0)
  }
  override def toBatch: Batch = this

  /** Streaming read: manifest VERSIONS are the offsets, each
    * micro-batch is the file-level change feed between two snapshots
    * (same semantics as [[graft.sources.Manifest.readChanges]] — an
    * append yields the appended rows, a merge/delete re-emits the
    * rewritten partitions' post-image). Pruning (partition, zone-map,
    * projection) applies per batch through the same paths as the batch
    * scan. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    // stream offsets are MAIN-CHAIN versions; a branch has its own
    // numbering, so streaming a branch would replay main's commits
    require(res.branch.isEmpty,
      "option(branch) cannot combine with readStream: stream offsets " +
        "are main-chain versions")
    new ManifestMicroBatchStream(res, required, partitionFilters,
      dataFilters, mkReaderFactory(), maxVersionsPerTrigger, cdc,
      startingVersion, startingTimestamp)
  }

  private[connector] def mkReaderFactory(): PartitionReaderFactory = {
    // Hadoop Configuration is not serializable; ship the entries and
    // rebuild on the executor (local/hdfs/s3a credentials all ride it).
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    val entries = conf.iterator().asScala
      .map(e => (e.getKey, e.getValue)).toArray
    // partition values, CDC meta and metadata columns ride the input
    // partitions as constants (see ManifestColumnarReader)
    ManifestReaderFactory(entries, required, dataFilters, limit,
      res.declared, plannedFiles.exists(f => res.deleteSpecsFor(f).nonEmpty))
  }

  override def description(): String =
    s"graft-manifest ${res.root} v${res.version} " +
      s"files=${plannedFiles.length}/${res.files.length} " +
      s"pushed=[${dataFilters.mkString(", ")}]" +
      (if (limit >= 0) s" limit=$limit" else "") +
      (if (topNPushed) " pushedTopN" else "") +
      aggPlan.map(a =>
        s" pushedAggregates=[${a._1.fieldNames.mkString(", ")}]")
        .getOrElse("")

  override def planInputPartitions(): Array[InputPartition] = {
    val parts: Array[InputPartition] = aggPlan match {
      // fully-pushed aggregate: the row is already computed from the
      // manifest zone maps — one partition, zero file IO
      case Some((_, rows)) => Array(AggRowInputPartition(rows))
      case None if cdc => changesFrom match {
        // batch CDC: the row-level change feed (from, pinned version]
        // through the connector — readChangesCdc as a DataFrame read
        case Some(from) =>
          val spark = SparkSession.active
          require(from >= 0 && from <= res.version,
            s"changesFrom $from is outside [0, ${res.version}] of " +
              res.root)
          val prev: Set[String] =
            if (from == 0L) Set.empty
            else graft.sources.Manifest
              .snapshot(spark, res.root, from).files.toSet
          val cur = graft.sources.Manifest
            .snapshotMeta(spark, res.root, res.version)
          val crossing = cur.deletes.filter(d =>
            d.seq > from && d.seq <= res.version)
          ManifestStreamHelpers.cdcInputPartitions(res, prev, cur,
            crossing)
        case None => throw new UnsupportedOperationException(
          "option(\"cdc\", \"true\") needs changesFrom for a batch " +
            "read (the feed is a version range), or spark.readStream " +
            "for the streaming feed")
      }
      case None =>
        // typed partition-key values (layout order) back the
        // HasPartitionKey grouping when KeyGroupedPartitioning is on.
        // runtimeFiles ⊆ plannedFiles: re-planned after a runtime
        // filter narrowed the set (Spark re-invokes this post-filter)
        val keyTypes = res.partCols.map(c =>
          res.declared.find(_.name == c)
            .map(_.dataType).getOrElse(StringType))
        runtimeFiles.map { f =>
          val pv = f.partValues.toMap
          val keys = res.partCols.zip(keyTypes).map { case (c, dt) =>
            Manifest.partValue(pv(c), dt)
          }.toArray
          ManifestInputPartition(
            f.absPath, f.size, f.partValues.toArray ++
              // lineage constants, emitted only when selected
              Array("_file" -> f.absPath,
                "_commit_version" -> f.seq.toString),
            res.deleteSpecsFor(f), keys): InputPartition
        }.toArray
    }
    filesPlanned = parts.count(_.isInstanceOf[ManifestInputPartition])
    parts
  }

  override def createReaderFactory(): PartitionReaderFactory =
    mkReaderFactory()

  override def estimateStatistics(): Statistics = new Statistics {
    // post-pruning bytes: a pruned scan becomes broadcast-eligible
    // exactly when its surviving files fit the threshold (a pushed
    // aggregate is one tiny row)
    override def sizeInBytes(): OptionalLong =
      if (aggPlan.isDefined)
        OptionalLong.of(64L * aggPlan.get._2.length max 64L)
      else OptionalLong.of(plannedFiles.map(_.size).sum max 1L)
    // exact post-pruning row count from the manifest zone maps (files
    // are immutable, so the commit-time footer count is exact) — AQE
    // and join-strategy costing see real cardinalities, not a guess
    // derived from bytes. Absent when a pre-stats file survives
    // pruning, or when pending merge-on-read deletes make footer
    // counts an overestimate (bytes stay: still an upper bound).
    override def numRows(): OptionalLong = {
      if (aggPlan.isDefined)
        return OptionalLong.of(aggPlan.get._2.length.toLong)
      val rs = plannedFiles.map(_.stats.map(_.rows))
      if (rs.forall(_.isDefined) &&
          plannedFiles.forall(f => res.deleteSpecsFor(f).isEmpty))
        OptionalLong.of(rs.flatMap(_.toSeq).sum)
      else OptionalLong.empty()
    }

    /** Per-column statistics for the CBO (`transformV2Stats` folds
      * them into catalyst attribute stats): min/max and null counts
      * aggregated from the PLANNED files' zone maps (so a pruned scan
      * reports its pruned ranges, not the table's), NDV and byte
      * lengths from the last `analyzeTable` header. All advisory —
      * estimates steer join order and selectivity guesses, never
      * results — and all conservative: any file missing a bound drops
      * that statistic rather than narrowing it. */
    override def columnStats(): java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
      val out = new java.util.HashMap[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
      if (aggPlan.isDefined || cdc ||
          plannedFiles.exists(f => res.deleteSpecsFor(f).nonEmpty))
        return out
      val analyzed = res.tableMeta.get("colstats")
        .map(Manifest.decodeColStats)
        .getOrElse(Map.empty[String, Manifest.AnalyzedCol])
      val rowsKnown = plannedFiles.forall(_.stats.isDefined)
      val totalRows =
        if (rowsKnown) Some(plannedFiles.map(_.stats.get.rows).sum)
        else None
      val partCols = res.partCols.toSet
      val metaNames = ManifestConnector.metadataColumnFields
        .map(_.name).toSet
      required.fields
        .filterNot(f => metaNames(f.name))
        .foreach { f =>
        val (mn, mx, nulls, ndvExact) =
          if (partCols(f.name)) {
            // partition columns: exact values per file from the path
            val vs = plannedFiles.map(_.partValues.toMap.apply(f.name))
            val nonNull = vs.filter(_ != null).distinct
            val typed = f.dataType match {
              case IntegerType | LongType | DoubleType | FloatType =>
                scala.util.Try(nonNull
                  .map(v => Manifest.partValue(v, f.dataType))).toOption
              case _ => None
            }
            val bounds = typed.filter(_.nonEmpty).map { tv =>
              def d(a: Any) = a match {
                case x: Int => x.toDouble; case x: Long => x.toDouble
                case x: Float => x.toDouble; case x: Double => x
              }
              (tv.minBy(d), tv.maxBy(d))
            }
            val nullRows =
              if (rowsKnown)
                Some(plannedFiles.filter(
                  _.partValues.toMap.apply(f.name) == null)
                  .map(_.stats.get.rows).sum)
              else None
            (bounds.map(_._1), bounds.map(_._2), nullRows,
              Some(nonNull.size.toLong +
                (if (vs.contains(null)) 1L else 0L)))
          } else {
            // zero-row files (CREATE TABLE's empty init commit) carry
            // no bounds and no rows — their envelope is vacuous, so
            // they must not poison the fold
            val nonEmpty =
              plannedFiles.filterNot(_.stats.exists(_.rows == 0L))
            val perFile = nonEmpty.map(
              _.stats.flatMap(_.cols.get(f.name)))
            val bounds: Option[(Any, Any)] =
              if (perFile.isEmpty || perFile.exists(s =>
                  s.isEmpty || s.get.min.isEmpty || s.get.max.isEmpty))
                None
              else ManifestScan.foldBounds(f.dataType,
                perFile.map(s => (s.get.min.get, s.get.max.get)))
            val nulls =
              if (perFile.forall(s =>
                  s.isDefined && s.get.nulls.isDefined))
                Some(perFile.flatMap(s => s.get.nulls).sum)
              else None
            (bounds.map(_._1), bounds.map(_._2), nulls, None)
          }
        val an = analyzed.get(f.name)
        val ndv = ndvExact.orElse(an.map(_.ndv))
          .map(n => totalRows.fold(n)(r => math.min(n, r)))
        if (mn.isDefined || mx.isDefined || nulls.isDefined ||
            ndv.isDefined || an.exists(_.avgLen.isDefined)) {
          out.put(
            org.apache.spark.sql.connector.expressions.Expressions
              .column(f.name),
            new org.apache.spark.sql.connector.read.colstats
                .ColumnStatistics {
              override def distinctCount(): OptionalLong =
                ndv.fold(OptionalLong.empty())(OptionalLong.of)
              override def min(): java.util.Optional[Object] =
                mn.fold(java.util.Optional.empty[Object]())(v =>
                  java.util.Optional.of(v.asInstanceOf[Object]))
              override def max(): java.util.Optional[Object] =
                mx.fold(java.util.Optional.empty[Object]())(v =>
                  java.util.Optional.of(v.asInstanceOf[Object]))
              override def nullCount(): OptionalLong =
                nulls.fold(OptionalLong.empty())(OptionalLong.of)
              override def avgLen(): OptionalLong =
                an.flatMap(_.avgLen)
                  .fold(OptionalLong.empty())(OptionalLong.of)
              override def maxLen(): OptionalLong =
                an.flatMap(_.maxLen)
                  .fold(OptionalLong.empty())(OptionalLong.of)
            })
        }
      }
      out
    }
  }
}

object ManifestScan {
  /** Fold per-file zone-map `(min, max)` bound strings into one typed
    * envelope of CATALYST values for `dt` (Int days for dates, Long
    * micros for timestamps — what the estimators expect). None for
    * types the CBO doesn't range over (strings/binary), for
    * unparsable bounds, and for float/double envelopes touching NaN
    * (parquet stats may omit NaNs; the range would be misleading even
    * as an estimate). */
  private[connector] def foldBounds(dt: DataType,
      perFile: Seq[(String, String)]): Option[(Any, Any)] =
    try dt match {
      case IntegerType | DateType =>
        Some((perFile.map(_._1.toLong).min.toInt,
          perFile.map(_._2.toLong).max.toInt))
      case LongType | TimestampType =>
        Some((perFile.map(_._1.toLong).min,
          perFile.map(_._2.toLong).max))
      case DoubleType =>
        val (mins, maxs) =
          (perFile.map(_._1.toDouble), perFile.map(_._2.toDouble))
        if ((mins ++ maxs).exists(_.isNaN)) None
        else Some((mins.min, maxs.max))
      case FloatType =>
        val (mins, maxs) =
          (perFile.map(_._1.toFloat), perFile.map(_._2.toFloat))
        if ((mins ++ maxs).exists(_.isNaN)) None
        else Some((mins.min, maxs.max))
      case BooleanType =>
        Some((perFile.map(_._1.toBoolean).min,
          perFile.map(_._2.toBoolean).max))
      case _ => None
    } catch { case scala.util.control.NonFatal(_) => None }
}

/** The scan's `numFiles` driver metric: files planned into tasks. */
final class ManifestNumFilesMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "numFiles"
  override def description(): String = "number of files planned"
}

/** One merge-on-read delete file applying to a task's data file: the
  * task loads its DISTINCT key tuples into a hash set once and drops
  * matching rows as it reads ([[ManifestRowView]]). */
final case class DeleteFileSpec(absPath: String, keyCols: Array[String])

final case class ManifestInputPartition(path: String, size: Long,
    partValues: Array[(String, String)],
    deletes: Array[DeleteFileSpec] = Array.empty,
    keyValues: Array[Any] = Array.empty)
    extends InputPartition with HasPartitionKey {
  // consulted only when the scan reports KeyGroupedPartitioning (the
  // batch path populates keyValues with typed values in layout order)
  override def partitionKey(): InternalRow =
    new GenericInternalRow(keyValues)
}

/** The single partition of a fully-pushed-down aggregate scan: the
  * result rows (one, or one per partition-tuple group) were computed
  * on the DRIVER from manifest zone maps; the executor just emits
  * them (values are Spark internal representations — primitives,
  * UTF8String or null). */
final case class AggRowInputPartition(rows: Array[Array[Any]])
    extends InputPartition

/** Columnar reads ([[ManifestColumnarReader]]) for every scan but
  * those with pending merge-on-read deletes, which read the same
  * batches through the [[ManifestRowView]] — Spark requires one mode
  * for the WHOLE scan, so `morDeletes` flags any file carrying deletes
  * (`rewriteDeletes` restores columnar reads). */
final case class ManifestReaderFactory(confEntries: Array[(String, String)],
    required: StructType, dataFilters: Array[SFilter], limit: Int,
    tableSchema: StructType, morDeletes: Boolean)
    extends PartitionReaderFactory {

  override def supportColumnarReads(partition: InputPartition): Boolean =
    !partition.isInstanceOf[AggRowInputPartition] && !morDeletes

  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = partition match {
    case AggRowInputPartition(rows) =>
      new PartitionReader[InternalRow] {
        private var i = -1
        override def next(): Boolean = { i += 1; i < rows.length }
        override def get(): InternalRow = new GenericInternalRow(rows(i))
        override def close(): Unit = ()
      }
    case p: ManifestInputPartition =>
      new ManifestRowView(p, confEntries, required, dataFilters, limit,
        tableSchema)
  }

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    new ManifestColumnarReader(
      partition.asInstanceOf[ManifestInputPartition],
      confEntries, required, dataFilters, limit)
}
