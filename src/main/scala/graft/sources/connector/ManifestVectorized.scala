package graft.sources.connector

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.TaskAttemptID
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.hadoop.ParquetInputFormat

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.RebaseDateTime.RebaseSpec
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFilters, ParquetFooterReader, VectorizedParquetRecordReader}
import org.apache.spark.sql.internal.LegacyBehaviorPolicy
import org.apache.spark.sql.sources.{Filter => SFilter}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.vectorized.{ColumnarBatch, ColumnVector}

import graft.sources.Manifest

/** The connector's one parquet decoder: Spark's own
  * `VectorizedParquetRecordReader` over one manifest data file, so
  * every scan enters the engine as `ColumnarBatch`es behind a codegen
  * `ColumnarToRow` boundary — or, under merge-on-read deletes, through
  * the [[ManifestRowView]] over the same batches.
  *
  *  - '''constants''': a column is a constant exactly when the input
  *    partition carries a value for it (hive partition values, CDC
  *    meta, `_file` / `_commit_version`), typed by
  *    [[Manifest.partValue]]; otherwise it is read from the file, and
  *    is NULL where the file predates it (schema evolution, or a CDC
  *    delete-key file that stores only its key columns);
  *  - '''column pruning''': the file-read columns ride the standard
  *    `org.apache.spark.sql.parquet.row.requested_schema` conf key; with
  *    none requested (partition-only projections, `count(*)`) batches
  *    carry row counts and constants only;
  *  - '''one open per file''': the file is opened and its footer read
  *    once, and the reader is handed that stream and footer, as Spark's
  *    own vectorized parquet reader does. The open waits for the first
  *    `next()`: Spark takes the task's bytes-read baseline after the
  *    reader is created, so a footer read in the constructor went
  *    uncounted;
  *  - '''row-group skipping''': pushed data filters translate through
  *    Spark's `ParquetFilters` against THIS file's schema and apply at
  *    row-group granularity; record-level evaluation stays Spark's
  *    residual job, exactly as in its native vectorized path;
  *  - '''pushed LIMIT''': each batch's `numRows` is capped so the task
  *    emits at most `limit` rows.
  *
  * Date/time rebase modes are pinned to CORRECTED: every writer of
  * this library writes proleptic-Gregorian values.
  */
final class ManifestColumnarReader(part: ManifestInputPartition,
    confEntries: Array[(String, String)], required: StructType,
    dataFilters: Array[SFilter], limit: Int = -1)
    extends PartitionReader[ColumnarBatch] {

  private val conf = {
    val c = new Configuration(false)
    confEntries.foreach { case (k, v) => c.set(k, v) }
    c
  }

  private val carried = part.partValues.toMap
  private val (constFields, dataFields) =
    required.fields.partition(f => carried.contains(f.name))
  private val path = new Path(part.path)

  private var isOpen = false

  private lazy val reader: VectorizedParquetRecordReader = {
    conf.set("parquet.read.support.class",
      "org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport")
    // nullable request: a column a file predates reads NULL, never
    // "required column missing"
    conf.set("org.apache.spark.sql.parquet.row.requested_schema",
      StructType(dataFields.map(_.copy(nullable = true))).json)
    // ParquetToSparkSchemaConverter reads these with NO defaults —
    // Spark's native path injects them from SQLConf; do the same here
    conf.setBoolean("spark.sql.parquet.binaryAsString", false)
    conf.setBoolean("spark.sql.parquet.int96AsTimestamp", true)
    conf.setBoolean("spark.sql.caseSensitive", false)
    conf.setBoolean("spark.sql.parquet.inferTimestampNTZ.enabled", true)
    conf.setBoolean("spark.sql.legacy.parquet.nanosAsLong", true)
    conf.setBoolean("spark.sql.parquet.fieldId.read.enabled", false)
    val len = if (part.size > 0) part.size
      else path.getFileSystem(conf).getFileStatus(path).getLen
    // one open, one footer read: the stream stays open for the reader
    val opened = ParquetFooterReader.openFileAndReadFooter(conf,
      PartitionedFile(InternalRow.empty, SparkPath.fromPath(path), 0, len,
        Array.empty[String], 0L, len), true)
    val in = opened.inputStream()
    val r = new VectorizedParquetRecordReader(
      null, "CORRECTED", "UTC", "CORRECTED", "UTC",
      /* useOffHeap = */ false, /* capacity = */ 4096)
    try {
      if (dataFilters.nonEmpty) {
        // IN lists up to parquetTranslatable's cap push as OR-ed
        // equalities
        val filters = new ParquetFilters(
          opened.footer.getFileMetaData.getSchema, true, true, true, true,
          32, false, RebaseSpec(LegacyBehaviorPolicy.CORRECTED))
        dataFilters.toSeq.flatMap(filters.createFilter)
          .reduceOption(FilterApi.and)
          .foreach(p => ParquetInputFormat.setFilterPredicate(conf, p))
      }
      // the reader downcasts to the OLD mapred FileSplit (which extends
      // the mapreduce one), so construct that flavor
      r.initialize(
        new org.apache.hadoop.mapred.FileSplit(path, 0, len,
          Array.empty[String]),
        new TaskAttemptContextImpl(conf, new TaskAttemptID()),
        Option(opened.inputFile), Option(in), Option(opened.footer))
    } catch {
      case e: Throwable =>
        try r.close() finally in.close()
        throw e
    }
    r.initBatch(StructType(constFields), new GenericInternalRow(
      constFields.map(f => Manifest.partValue(carried(f.name), f.dataType))
        .toArray[Any]))
    r.enableReturningBatches()
    isOpen = true
    r
  }

  // the reader's batch is [dataFields..., constFields...]; re-expose the
  // SAME vectors in the scan's declared column order
  private lazy val inner: ColumnarBatch = reader.resultBatch()
  private lazy val batch: ColumnarBatch = new ColumnarBatch(required.fields.map {
    f =>
      val d = dataFields.indexWhere(_.name == f.name)
      inner.column(if (d >= 0) d
        else dataFields.length + constFields.indexWhere(_.name == f.name))
  })

  private var emitted = 0L

  override def next(): Boolean =
    if (limit >= 0 && emitted >= limit) false
    else if (!reader.nextBatch()) false
    else {
      val n = if (limit >= 0) math.min(inner.numRows().toLong,
        limit - emitted).toInt else inner.numRows()
      batch.setNumRows(n)
      emitted += n
      true
    }

  override def get(): ColumnarBatch = batch

  override def close(): Unit = if (isOpen) reader.close()
}

/** The row view over [[ManifestColumnarReader]] batches for scans with
  * pending merge-on-read deletes — the executor half of
  * [[graft.sources.Manifest.deleteByKeys]]. The delete key columns are
  * read even when pruned from the projection (extraction needs them,
  * emission does not); a row is skipped when ANY applicable delete
  * file holds its key tuple, null-safe (a NULL key value matches NULL,
  * as `<=>` does). Spark needs one mode per scan, so every file of such
  * a scan reads through this view. */
final class ManifestRowView(part: ManifestInputPartition,
    confEntries: Array[(String, String)], required: StructType,
    dataFilters: Array[SFilter], limit: Int, tableSchema: StructType)
    extends PartitionReader[InternalRow] {

  private val keyFields = part.deletes.flatMap(_.keyCols).distinct
    .filterNot(required.fieldNames.contains).map(tableSchema(_))
  private val readSchema = StructType(required.fields ++ keyFields)

  /** Per distinct key-column tuple: its ordinals in [[readSchema]],
    * types, and the loaded key sets of every delete file keyed on it.
    * Loading happens once per task (cached JVM-wide per path), on the
    * first `next()` like the data file's open. */
  private lazy val deleteSets: Array[(Array[Int], Array[DataType],
      Array[java.util.HashSet[List[Any]]])] =
    part.deletes.groupBy(_.keyCols.toSeq).map { case (kc, specs) =>
      val types = kc.map(readSchema(_).dataType).toArray
      val sets = specs.map(_.absPath).distinct.map(dp =>
        DeleteSetCache.getOrLoad(dp, () => {
          val set = new java.util.HashSet[List[Any]]()
          val ords = kc.indices.toArray
          val r = new ManifestColumnarReader(
            ManifestInputPartition(dp, 0L, Array.empty), confEntries,
            StructType(kc.map(readSchema(_))), Array.empty)
          try while (r.next()) {
            val it = r.get().rowIterator()
            // copy: batch rows point into buffers the next batch reuses
            while (it.hasNext)
              set.add(ManifestRowView.keyOf(it.next().copy(), ords, types))
          } finally r.close()
          set
        }))
      (kc.map(readSchema.fieldIndex).toArray, types, sets.toArray)
    }.toArray

  private val cols = new ManifestColumnarReader(part, confEntries,
    readSchema, dataFilters)
  private var full: ColumnarBatch = _
  // emission exposes the projected columns only, over the same vectors
  private var out: ColumnarBatch = _
  private var i = 0
  private var emitted = 0L
  private var current: InternalRow = _

  private def deleted(row: InternalRow): Boolean =
    deleteSets.exists { case (ords, types, sets) =>
      val key = ManifestRowView.keyOf(row, ords, types)
      sets.exists(_.contains(key))
    }

  override def next(): Boolean = {
    if (limit >= 0 && emitted >= limit) return false
    while (true) {
      while (full != null && i < full.numRows()) {
        val row = full.getRow(i)
        i += 1
        if (!deleted(row)) {
          current = out.getRow(i - 1)
          emitted += 1
          return true
        }
      }
      if (!cols.next()) return false
      full = cols.get()
      if (out == null) out = new ColumnarBatch(
        Array.tabulate[ColumnVector](required.length)(full.column))
      out.setNumRows(full.numRows())
      i = 0
    }
    false
  }

  override def get(): InternalRow = current

  override def close(): Unit = cols.close()
}

object ManifestRowView {
  /** A key tuple: catalyst values, byte arrays as value-compared
    * sequences (arrays compare by identity). */
  private def keyOf(row: InternalRow, ords: Array[Int],
                    types: Array[DataType]): List[Any] =
    ords.indices.map { k =>
      if (row.isNullAt(ords(k))) null
      else row.get(ords(k), types(k)) match {
        case b: Array[Byte] => b.toSeq
        case x              => x
      }
    }.toList
}

/** JVM-wide (per-executor) cache of loaded delete-key sets. A scan
  * over N data files would otherwise read every applicable delete
  * file N times — once per task. Delete files are IMMUTABLE (new
  * commits write new paths), so a path is a complete cache key.
  * Crudely bounded: maintenance cycles (rewriteDeletes → vacuum)
  * retire paths, so on overflow the cache just resets. */
private[connector] object DeleteSetCache {
  private val MaxEntries = 64
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String,
      java.util.HashSet[List[Any]]]()
  def getOrLoad(path: String,
                load: () => java.util.HashSet[List[Any]])
      : java.util.HashSet[List[Any]] = {
    val hit = cache.get(path)
    if (hit != null) return hit
    val v = load()
    if (cache.size >= MaxEntries) cache.clear()
    cache.putIfAbsent(path, v)
    v
  }
}
