package graft.sources.connector

import scala.collection.JavaConverters._
import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.AppendData
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.types._

import graft.sources.{Manifest, ManifestStats}

/** The one data plane of the manifest format. Every commit's data and
  * delete-key files are written here: the Scala API's commits
  * ([[ManifestWriter.write]]), the native batch INSERT, the native
  * streaming sink and SQL row-level operations (UPDATE / MERGE /
  * rewrite-shaped DELETE). Spark hands each task's rows to a
  * [[DataWriter]], never a whole DataFrame to the driver.
  *
  * Each task writes its rows into the commit's dir under `data/`, one
  * file per hive partition directory it encounters
  * (`data/<commitDir>/k1=v1/k2=v2/part-<pid>-<uuid>-<n>.parquet`), and
  * reports one [[Manifest.FileEntry]] per file as its commit message:
  * the path, the size from the file's status and the zone-map stats
  * from the footer it has just closed. The DRIVER then publishes
  * exactly the committed tasks' files as one atomic manifest version
  * without opening any of them. A failed or speculative task's files
  * are never referenced; [[graft.sources.Manifest.removeOrphans]]
  * reclaims them.
  *
  * Files are encoded by Spark's own parquet writer (the
  * `OutputWriterFactory` of `ParquetFileFormat.prepareWrite`), so any
  * column type Spark writes is in scope. File names carry a
  * per-writer UUID, so epoch replays and task retries can never
  * clobber a committed file.
  *
  * 100 TB posture: rows stream straight from the task to its parquet
  * files (one open writer per partition dir the task meets); the
  * driver sees only per-file entries, metadata-scale like every
  * commit. */
object ManifestWriter {

  /** Write `df`'s rows as the files of `data/<commitDir>` (hive
    * partition dirs under it for `partCols`) and return their entries,
    * sorted by path.
    *
    * The rows pass through as they come: no exchange is added. Callers
    * that shaped the frame (compact's range clustering, z-order's
    * sort) keep their layout, and callers that want one file per
    * partition value repartition by it first.
    *
    * The write is ONE SQL execution, a V2 append of the frame's own
    * plan to a write-only [[CommitTable]]. So query listeners fire and
    * an `Observation` on `df` delivers once this returns (the
    * `lateMeta` channel of [[graft.sources.Manifest.init]]). */
  def write(spark: SparkSession, root: String, commitDir: String,
            df: DataFrame,
            partCols: Seq[String]): Seq[Manifest.FileEntry] = {
    val table = new CommitTable(spark, root, commitDir, df.schema, partCols)
    PlanBridge.ofRows(spark, AppendData.byPosition(
      DataSourceV2Relation.create(table, None, None),
      PlanBridge.logicalPlan(df)))
    table.written.sortBy(_.path)
  }

  /** Best-effort delete of staged files nothing will publish: an
    * aborted write's, or a replayed streaming epoch's. */
  def deleteStaged(spark: SparkSession, root: String,
                   entries: Seq[Manifest.FileEntry]): Unit = {
    val fs = new Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    entries.foreach { e =>
      try fs.delete(new Path(s"$root/${e.path}"), false)
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }
}

/** The files one committed task wrote. */
final case class ManifestWriteMessage(entries: Seq[Manifest.FileEntry])
    extends WriterCommitMessage

object ManifestWriteMessage {
  /** The entries of every committed task (aborts pass nulls for the
    * tasks that never committed). */
  def entriesOf(messages: Array[WriterCommitMessage])
      : Seq[Manifest.FileEntry] =
    messages.toSeq.collect { case m: ManifestWriteMessage => m.entries }
      .flatten
}

/** Write-only table standing for one commit dir: the target of
  * [[ManifestWriter.write]]. It accepts any schema and declares no
  * distribution or ordering, so the executed plan is the caller's
  * frame plus the write. The committed tasks' entries land in
  * `written`. */
private final class CommitTable(spark: SparkSession, root: String,
    commitDir: String, tableSchema: StructType, partCols: Seq[String])
    extends Table with SupportsWrite {

  @volatile var written: Seq[Manifest.FileEntry] = Nil

  override def name(): String = s"graft-manifest commit $root/data/$commitDir"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_WRITE,
      TableCapability.ACCEPT_ANY_SCHEMA)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new BatchWrite {
          override def createBatchWriterFactory(info: PhysicalWriteInfo)
              : DataWriterFactory =
            ManifestWriterFactory(spark, root, commitDir, tableSchema,
              partCols)
          override def commit(messages: Array[WriterCommitMessage]): Unit =
            written = ManifestWriteMessage.entriesOf(messages)
          override def abort(messages: Array[WriterCommitMessage]): Unit =
            ManifestWriter.deleteStaged(spark, root,
              ManifestWriteMessage.entriesOf(messages))
        }
      }
    }
}

/** One factory serves every write plane: batch INSERT, row-level
  * operations and streaming (per-epoch micro-batch commits).
  * `commitDir` is the staging dir name under `data/` for batch;
  * streaming derives a per-epoch dir from it. `parquetWriters` and the
  * `confEntries` it was prepared into ship together. */
final case class ManifestWriterFactory(confEntries: Array[(String, String)],
    parquetWriters: OutputWriterFactory, root: String, commitDir: String,
    schema: StructType, partCols: Seq[String])
    extends DataWriterFactory with StreamingDataWriterFactory {

  override def createWriter(partitionId: Int,
                            taskId: Long): DataWriter[InternalRow] =
    new ManifestDataWriter(this, commitDir, partitionId)

  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new ManifestDataWriter(this, f"$commitDir-e$epochId%08d", partitionId)
}

object ManifestWriterFactory {
  /** Driver side: `ParquetFileFormat.prepareWrite` builds the writer
    * factory and fills the job conf it reads on the executors (write
    * support, schema, codec, session parquet settings). Timestamps are
    * pinned to INT64 TIMESTAMP_MICROS (INT96 records no usable min/max
    * for the zone maps). All columns are written optional, as Spark's
    * own file writes do.
    *
    * `spark.graft.parquet.bloom.columns=c1,c2` writes parquet bloom
    * filters for those data columns: point lookups (`=`/`IN`) then
    * skip whole row groups through the pushed parquet predicate both
    * read paths install. Zone maps cannot skip uniformly distributed
    * keys (every file's envelope matches); blooms can. Costs ~1 MB
    * per row group per column at write. */
  def apply(spark: SparkSession, root: String, commitDir: String,
            schema: StructType,
            partCols: Seq[String]): ManifestWriterFactory = {
    val job = Job.getInstance(spark.sparkContext.hadoopConfiguration)
    val dataSchema = dataSchemaOf(schema, partCols)
    val parquetWriters = new ParquetFileFormat().prepareWrite(spark, job,
      Map.empty, dataSchema)
    val conf = job.getConfiguration
    conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    spark.conf.getOption("spark.graft.parquet.bloom.columns").toSeq
      .flatMap(_.split(',')).map(_.trim)
      .filter(dataSchema.fieldNames.contains)
      .foreach(c => conf.set(s"parquet.bloom.filter.enabled#$c", "true"))
    ManifestWriterFactory(conf.iterator().asScala
      .map(e => (e.getKey, e.getValue)).toArray, parquetWriters, root,
      commitDir, schema, partCols)
  }

  private[connector] def dataSchemaOf(schema: StructType,
                                      partCols: Seq[String]): StructType =
    StructType(schema.filterNot(f => partCols.contains(f.name))
      .map(_.copy(nullable = true)))
}

/** Streams one task's rows into per-partition parquet files through
  * the factory's Spark parquet `OutputWriter`s. */
final class ManifestDataWriter(factory: ManifestWriterFactory,
    commitDir: String, partitionId: Int)
    extends DataWriter[InternalRow] {

  import factory.{partCols, root, schema}

  private val conf = {
    val c = new Configuration(false)
    factory.confEntries.foreach { case (k, v) => c.set(k, v) }
    c
  }
  private val context = new TaskAttemptContextImpl(conf, new TaskAttemptID())
  private val uuid = java.util.UUID.randomUUID().toString.take(8)

  private val dataSchema =
    ManifestWriterFactory.dataSchemaOf(schema, partCols)
  // bound at the first row, once its ordinal base is known: the data
  // columns, and the partition values as path strings
  private var project: UnsafeProjection = _
  private var partStrings: UnsafeProjection = _

  /** Group-based ReplaceData rewrites (SQL UPDATE/MERGE/DELETE)
    * prepend Spark's `__row_operation` int marker to every replacement
    * row, and `ReplaceDataExec` only strips it when the operation
    * declares metadata attributes (the no-metadata path falls back to
    * the non-projecting writing task) — so the row may be
    * `[op, <schema fields...>]` or exactly the schema. The base is
    * detected from the first row's arity; anything else fails loudly. */
  private def bind(row: InternalRow): Unit = {
    val base = row.numFields - schema.length
    require(base == 0 || base == 1,
      s"row arity ${row.numFields} does not match write schema " +
        s"${schema.length} (+ optional operation column)")
    def at(i: Int) = BoundReference(i + base, schema(i).dataType, true)
    project = UnsafeProjection.create(schema.indices
      .filterNot(i => partCols.contains(schema(i).name)).map(at))
    partStrings = UnsafeProjection.create(partCols.map(c =>
      Manifest.partStringExpr(at(schema.fieldIndex(c)))))
  }

  // relDir → (relPath of its file, open writer)
  private val writers =
    mutable.LinkedHashMap.empty[String, (String, OutputWriter)]
  private var lastKey: UnsafeRow = _
  private var lastDir = s"data/$commitDir"

  /** The row's partition dir, formatted as Spark's own `partitionBy`
    * formats it: each value as [[graft.sources.Manifest.partStringExpr]]
    * text, hive-escaped, null or empty as `__HIVE_DEFAULT_PARTITION__`. */
  private def relDirOf(row: InternalRow): String = {
    if (partCols.nonEmpty) {
      val key = partStrings(row)
      if (lastKey == null || key != lastKey) {
        lastKey = key.copy()
        lastDir = partCols.indices.map { i =>
          ExternalCatalogUtils.getPartitionPathString(partCols(i),
            if (key.isNullAt(i)) null else key.getUTF8String(i).toString)
        }.mkString(s"data/$commitDir/", "/", "")
      }
    }
    lastDir
  }

  private def writerFor(relDir: String): OutputWriter =
    writers.getOrElseUpdate(relDir, {
      val rel = f"$relDir/part-$partitionId%05d-$uuid-${writers.size + 1}%03d.parquet"
      (rel, factory.parquetWriters.newInstance(s"$root/$rel", dataSchema,
        context))
    })._2

  override def write(row: InternalRow): Unit = {
    if (project == null) bind(row)
    writerFor(relDirOf(row)).write(project(row))
  }

  private var finished = false
  private def closeAll(): Unit = if (!finished) {
    finished = true
    writers.values.foreach(_._2.close())
  }

  /** Close every file, then report each with its exact size (from its
    * own status) and its zone-map stats (from the footer just
    * written, read back here in the task). */
  override def commit(): WriterCommitMessage = {
    closeAll()
    val fs = new Path(root).getFileSystem(conf)
    ManifestWriteMessage(writers.values.toSeq.map { case (rel, _) =>
      val p = new Path(s"$root/$rel")
      Manifest.FileEntry(rel, fs.getFileStatus(p).getLen,
        ManifestStats.fromFooter(conf, p).map(ManifestStats.encode))
    })
  }

  override def abort(): Unit = {
    try closeAll() catch { case scala.util.control.NonFatal(_) => () }
    val fs = new Path(root).getFileSystem(conf)
    writers.values.foreach { case (rel, _) =>
      try fs.delete(new Path(s"$root/$rel"), false)
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  override def close(): Unit =
    try closeAll() catch { case scala.util.control.NonFatal(_) => () }
}
