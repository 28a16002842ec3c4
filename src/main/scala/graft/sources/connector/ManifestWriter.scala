package graft.sources.connector

import scala.collection.JavaConverters._
import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.connector.write.{DataWriter, DataWriterFactory, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._

/** EXECUTOR-side parquet writing for the manifest connector — the data
  * plane of the native batch INSERT, the native streaming sink and SQL
  * row-level operations (UPDATE / MERGE / rewrite-shaped DELETE):
  * Spark hands each task's rows to a [[DataWriter]], never a whole
  * DataFrame to the driver.
  *
  * Each task writes its rows into the commit's shared staging dir
  * under `data/`, one file per hive partition directory it encounters
  * (`data/<commitDir>/k1=v1/k2=v2/part-<pid>-<uuid>.parquet`), and
  * reports the written `(relPath, size)` entries as its commit
  * message. The DRIVER then publishes exactly the committed tasks'
  * files as one atomic manifest version — a failed/speculative task's
  * files are never referenced (orphans, reclaimed by the commit-dir
  * sweep in [[graft.sources.Manifest.vacuum]]'s empty-dir pass once
  * vacuumed snapshots stop referencing the dir — or simply inert).
  *
  * Files are encoded by Spark's own parquet writer (the
  * `OutputWriterFactory` of `ParquetFileFormat.prepareWrite`), so any
  * column type Spark writes is in scope. File names carry a
  * per-writer UUID, so epoch replays and task retries can never
  * clobber a committed file.
  *
  * 100 TB posture: rows stream straight from the task to its parquet
  * files (O(1) memory per open partition writer); the driver sees only
  * (path, size) tuples — metadata-scale, same as every commit. */
object ManifestWriter {

  /** Hive path escaping (inverse of
    * [[graft.sources.Manifest.unescapePathName]]): the characters Hive
    * escapes in partition path segments, as `%XX` uppercase hex. */
  def escapePathName(s: String): String = {
    val needs = (c: Char) => c < 0x20 || c == 0x7F ||
      "\"#%'*/:=?\\{[]^".indexOf(c) >= 0
    if (!s.exists(needs)) s
    else {
      val sb = new StringBuilder(s.length + 8)
      s.foreach { c =>
        if (needs(c)) sb.append(f"%%${c.toInt}%02X") else sb.append(c)
      }
      sb.toString
    }
  }

  /** One row's hive partition sub-path (`k1=v1/k2=v2`), null →
    * `__HIVE_DEFAULT_PARTITION__`. Values are formatted exactly as the
    * read side parses them back ([[graft.sources.Manifest.partValue]]). */
  def partitionPath(partCols: Seq[String], values: Seq[Any]): String =
    partCols.zip(values).map { case (c, v) =>
      val s = if (v == null) "__HIVE_DEFAULT_PARTITION__"
        else escapePathName(v.toString)
      s"${escapePathName(c)}=$s"
    }.mkString("/")
}

/** The `(relPath, size)` entries one committed task contributed. */
final case class ManifestWriteMessage(entries: Seq[(String, Long)])
    extends WriterCommitMessage

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
    * pinned to INT64 TIMESTAMP_MICROS, as on every manifest write
    * (INT96 records no usable min/max for the zone maps). All columns
    * are written optional, as Spark's own file writes do. */
  def apply(spark: SparkSession, root: String, commitDir: String,
            schema: StructType,
            partCols: Seq[String]): ManifestWriterFactory = {
    val job = Job.getInstance(spark.sparkContext.hadoopConfiguration)
    val parquetWriters = new ParquetFileFormat().prepareWrite(spark, job,
      Map.empty, dataSchemaOf(schema, partCols))
    job.getConfiguration.set("spark.sql.parquet.outputTimestampType",
      "TIMESTAMP_MICROS")
    ManifestWriterFactory(job.getConfiguration.iterator().asScala
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
  private val partIdx = partCols.map(schema.fieldIndex)

  /** Ordinal base for incoming rows. Group-based ReplaceData rewrites
    * (SQL UPDATE/MERGE/DELETE) prepend Spark's `__row_operation` int
    * marker to every replacement row, and `ReplaceDataExec` only
    * strips it when the operation declares metadata attributes (the
    * no-metadata path falls back to the non-projecting writing task) —
    * so the row may be `[op, <schema fields...>]` or exactly the
    * schema. Detected once from arity; anything else fails loudly. */
  private var base = -1
  private def baseOf(row: InternalRow): Int = {
    if (base < 0) {
      base = row.numFields - schema.length
      require(base == 0 || base == 1,
        s"row arity ${row.numFields} does not match write schema " +
          s"${schema.length} (+ optional operation column)")
    }
    base
  }
  private val dataSchema =
    ManifestWriterFactory.dataSchemaOf(schema, partCols)
  // the data columns of an incoming row, bound once its base is known
  private var project: UnsafeProjection = _

  private val writers = mutable.LinkedHashMap.empty[String, OutputWriter]
  private var seq = 0

  private def relDirOf(row: InternalRow): String = {
    val b = baseOf(row)
    val vals = partIdx.zip(partCols).map { case (i0, c) =>
      val i = i0 + b
      if (row.isNullAt(i)) null
      else schema(c).dataType match {
        case StringType  => row.getUTF8String(i).toString
        case IntegerType => row.getInt(i)
        case LongType    => row.getLong(i)
        case DoubleType  => row.getDouble(i)
        case FloatType   => row.getFloat(i)
        case BooleanType => row.getBoolean(i)
        case other => throw new IllegalArgumentException(
          s"unsupported partition column type ${other.catalogString}")
      }
    }
    val sub = ManifestWriter.partitionPath(partCols, vals)
    if (sub.isEmpty) s"data/$commitDir" else s"data/$commitDir/$sub"
  }

  private def writerFor(relDir: String) =
    writers.getOrElseUpdate(relDir, {
      seq += 1
      val file = f"part-$partitionId%05d-$uuid-$seq%03d.parquet"
      factory.parquetWriters.newInstance(s"$root/$relDir/$file",
        dataSchema, context)
    })

  override def write(row: InternalRow): Unit = {
    if (project == null) {
      val b = baseOf(row)
      project = UnsafeProjection.create(schema.fields.toSeq.zipWithIndex
        .filterNot { case (f, _) => partCols.contains(f.name) }
        .map { case (f, i) => BoundReference(i + b, f.dataType, true) })
    }
    writerFor(relDirOf(row)).write(project(row))
  }

  private var finished = false
  private def closeAll(): Unit = if (!finished) {
    finished = true
    writers.values.foreach(_.close())
  }

  /** Close all files, then report their exact (path, size) — sizes via
    * one listing per written dir, the commit-time cost the manifest's
    * size column exists to amortize forever after. */
  override def commit(): WriterCommitMessage = {
    closeAll()
    // list only what THIS writer created (its uuid is in every name)
    val fs = new Path(root).getFileSystem(conf)
    ManifestWriteMessage(writers.keys.toSeq.flatMap { relDir =>
      fs.listStatus(new Path(s"$root/$relDir")).toSeq
        .filter(_.getPath.getName.contains(s"-$uuid-"))
        .map(st => s"$relDir/${st.getPath.getName}" -> st.getLen)
    })
  }

  override def abort(): Unit = {
    try closeAll() catch { case scala.util.control.NonFatal(_) => () }
    val fs = new Path(root).getFileSystem(conf)
    writers.keys.foreach { relDir =>
      try fs.listStatus(new Path(s"$root/$relDir")).toSeq
        .filter(_.getPath.getName.contains(s"-$uuid-"))
        .foreach(st => fs.delete(st.getPath, false))
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  override def close(): Unit =
    try closeAll() catch { case scala.util.control.NonFatal(_) => () }
}
