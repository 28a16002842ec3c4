package graft.sources.connector

import scala.collection.JavaConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsRuntimeFiltering}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.sources.{Filter => SFilter}
import org.apache.spark.sql.types.StructType

import graft.sources.Manifest

/** The one data-rewrite plane of manifest tables: SQL `UPDATE`,
  * `MERGE INTO` and `DELETE`, and the Scala [[Manifest.mergeInto]] /
  * [[Manifest.deleteWhere]] that plan the same commands, riding Spark's
  * own GROUP-BASED row-level operation machinery
  * (`SupportsRowLevelOperations` → `RewriteUpdateTable` /
  * `RewriteMergeIntoTable` / `RewriteDeleteFromTable` → `ReplaceData`):
  * Spark plans the full post-image of every AFFECTED group as an
  * ordinary query over this operation's scan, writes it through the
  * connector's executor-side parquet writer, and the commit atomically
  * replaces exactly the files the scan planned — untouched files carry
  * forward by reference, history stays time-travelable.
  *
  * The group currency here is the FILE (the finest unit a manifest
  * tracks). Three pruning layers keep "affected" small, the first two
  * through [[ManifestConnector.keepFiles]] under its GROUP polarity:
  *
  *  1. STATIC: the command's condition conjuncts are pushed into the
  *     scan builder and prune files by partition value, zone map and
  *     bloom sidecar.
  *  2. RUNTIME: `SupportsRuntimeFiltering` on the `_file` metadata
  *     column, which the operation requires on every row it reads:
  *     Spark runs the command's condition (for MERGE, a semi-join with
  *     the source) as a subquery over the table and hands back an
  *     IN-filter of the files that hold a matching row, so only those
  *     files are rewritten — whatever the partition layout, NULL and
  *     multi-column partitions included — and a command that matches
  *     nothing rewrites nothing.
  *  3. The scan NEVER forwards data filters to the readers: replaced
  *     groups must re-emit every surviving row, so row-group skipping
  *     on the rewrite read would be data loss, not an optimization.
  *
  * The commit ([[Manifest.commitRewrite]]) is pinned to the version
  * the rewrite read: a concurrent commit fails the operation with the
  * same `commit conflict` every manifest committer throws, instead of
  * silently dropping that commit's files. The version it published is
  * left on the table object ([[ManifestTable.published]]).
  *
  * The metadata-only DELETEs — keyed merge-on-read, unconditional —
  * never reach this path: `OptimizeMetadataOnlyDeleteFromTable` routes
  * them to [[ManifestTable.deleteWhere]] first. */
final class ManifestRowLevelOperation(table: ManifestTable, cmd: Command)
    extends RowLevelOperation {

  private val res = table.res

  /** The one scan Spark builds for this operation (group discovery and
    * rewrite read share it); its post-runtime-filter file list is what
    * the commit replaces. */
  @volatile private[connector] var builtScan: ManifestCowScan = _

  override def command(): Command = cmd

  /** `_file` on every read row: the key of the runtime group filter
    * ([[ManifestCowScan.filterAttributes]]). */
  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column("_file"))

  override def newScanBuilder(options: org.apache.spark.sql.util
      .CaseInsensitiveStringMap): ScanBuilder =
    new ManifestCowScanBuilder(this, res)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write =
        new ManifestReplaceDataWrite(ManifestRowLevelOperation.this,
          table, info.schema())
    }

  override def description(): String =
    s"graft-manifest $cmd copy-on-write ${res.root} v${res.version}"
}

final class ManifestCowScanBuilder(op: ManifestRowLevelOperation,
                                   res: ManifestConnector.Resolved)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  private var required: StructType = res.declared
  private var groupFilters: Array[SFilter] = Array.empty

  /** The command condition, used ONLY to prune groups — every filter
    * stays residual (returned unchanged, claimed un-pushed), because
    * the rewrite query must see every row of every kept file. */
  override def pushFilters(filters: Array[SFilter]): Array[SFilter] = {
    groupFilters = filters
    filters
  }

  override def pushedFilters(): Array[SFilter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = {
    val scan = new ManifestCowScan(res,
      ManifestConnector.keepFiles(res, res.files, groupFilters, group = true),
      required)
    op.builtScan = scan
    scan
  }
}

/** The copy-on-write rewrite scan: like the ordinary batch scan but
  * (a) it remembers which files it planned, (b) readers get NO pushed
  * filters and no limit (full fidelity — see class doc above), and
  * (c) a runtime IN-filter over `_file` shrinks the group set before
  * planning. */
final class ManifestCowScan(res: ManifestConnector.Resolved,
                            initial: Seq[ManifestConnector.FileInfo],
                            required: StructType)
    extends Scan with Batch with SupportsRuntimeFiltering {

  @volatile private var files: Seq[ManifestConnector.FileInfo] = initial

  /** Manifest paths of the planned (= to-be-replaced) files. */
  private[connector] def plannedRelPaths: Set[String] =
    files.map(res.relPath).toSet

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  override def filterAttributes(): Array[NamedReference] =
    Array(Expressions.column("_file"))

  override def filter(filters: Array[SFilter]): Unit =
    files = ManifestConnector.keepFiles(res, files, filters, group = true)

  override def planInputPartitions(): Array[InputPartition] =
    // applicable merge-on-read deletes ride along: a rewrite that
    // re-emitted deleted rows would resurrect them in the replacement
    files.map(f => ManifestInputPartition(f.absPath, f.size,
      f.partValues.toArray :+ ("_file" -> f.absPath),
      res.deleteSpecsFor(f)): InputPartition).toArray

  override def createReaderFactory(): PartitionReaderFactory = {
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    val entries = conf.iterator().asScala
      .map(e => (e.getKey, e.getValue)).toArray
    // NO data filters, NO limit: the rewrite read is full-fidelity
    ManifestReaderFactory(entries, required, Array.empty, -1,
      res.declared, files.exists(f => res.deleteSpecsFor(f).nonEmpty))
  }

  override def description(): String =
    s"graft-manifest CoW ${res.root} v${res.version} " +
      s"groups=${files.length}/${res.files.length}"
}

/** The replacement write: executor-staged parquet files, one atomic
  * commit swapping the scanned files for the written ones. */
final class ManifestReplaceDataWrite(op: ManifestRowLevelOperation,
                                     table: ManifestTable,
                                     writeSchema: StructType)
    extends Write {

  private val res = table.res

  override def toBatch: BatchWrite = new BatchWrite {
    private val salt = java.util.UUID.randomUUID().toString.take(8)

    override def createBatchWriterFactory(info: PhysicalWriteInfo)
        : DataWriterFactory = {
      ManifestWriterFactory(SparkSession.active, res.root, s"rw-$salt",
        writeSchema, res.partCols)
    }

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val scan = op.builtScan
      require(scan != null,
        "row-level write committed without a planned scan")
      table.published = Manifest.commitRewrite(SparkSession.active, res,
        scan.plannedRelPaths, ManifestWriteMessage.entriesOf(messages))
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit =
      ManifestWriter.deleteStaged(SparkSession.active, res.root,
        ManifestWriteMessage.entriesOf(messages))
  }

  override def description(): String =
    s"graft-manifest replace-data ${res.root} v${res.version}"
}
