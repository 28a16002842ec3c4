package graft.sources.connector

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, LocalScan, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.Manifest

/** Iceberg-style queryable METADATA TABLES over a manifest table —
  * `SELECT * FROM catalog.db.t.files` (dotted suffix on the table
  * identifier), composable with joins/filters/aggregates like any
  * relation, where the CALL procedures (`system.history` etc.) return
  * a one-shot result set.
  *
  *   - `history`      — one row per snapshot: version, committed_at,
  *                      files, bytes (same facts as `system.history`).
  *   - `files`        — one row per data file of the resolved
  *                      snapshot: path, partition, size_bytes,
  *                      row_count, seq.
  *   - `partitions`   — per-partition rollup of `files`: files,
  *                      row_count, bytes.
  *   - `delete_files` — pending merge-on-read delete files of the
  *                      snapshot: path, size_bytes, seq, key_columns.
  *   - `tags`         — name → version of every immutable snapshot ref.
  *   - `branches`     — name → head of every writable branch.
  *
  * `VERSION AS OF` composes: `files`/`partitions`/`delete_files`
  * describe the pinned snapshot; `history`/`tags`/`branches` are
  * version-independent refs and always return the current log. All rows are
  * driver-computed from the manifests alone — zero data IO at any
  * table size (the same O(files) metadata the planner already reads).
  * Small relations (≤ [[LocalScanThresholdKey]] rows, default 100k)
  * are served through a `LocalScan` (LocalTableScan, no tasks); above
  * the threshold the rows ship to executors through a distributed
  * batch scan so a metadata join over ~10⁶ files never funnels a
  * multi-GB relation through the driver plan.
  *
  * `row_count` is the PHYSICAL row count from the per-file stats —
  * pending merge-on-read deletes are not subtracted (they are delete
  * FILES, visible as their own facts); a file written without stats
  * reports NULL, and a partition containing any such file reports a
  * NULL rollup rather than an undercount.
  */
private[connector] object MetadataTables {

  val suffixes: Set[String] =
    Set("history", "files", "partitions", "delete_files", "tags",
      "constraints",
      "branches")

  private def u(s: String): UTF8String =
    if (s == null) null else UTF8String.fromString(s)

  /** Hive-style partition string of a data path: "lang=de/source=s1"
    * (unescaped values, layout order), "" for unpartitioned. */
  private def partString(relPath: String): String =
    Manifest.partValuesOf(relPath)
      .map { case (k, v) =>
        s"$k=${if (v == null) "__HIVE_DEFAULT_PARTITION__" else v}" }
      .mkString("/")

  def table(spark: SparkSession, root: String, suffix: String,
            version: Option[String]): Table = {
    val v = version
      .map(Manifest.resolveVersion(spark, root, _))
      .getOrElse(Manifest.latestVersion(spark, root).get)
    suffix match {
      case "history" =>
        val schema = StructType(Seq(
          StructField("version", LongType, nullable = false),
          StructField("committed_at", TimestampType, nullable = true),
          StructField("files", LongType, nullable = false),
          StructField("bytes", LongType, nullable = false)))
        relation(spark, s"$root#history", schema,
          Manifest.versions(spark, root).map { ver =>
            val m = Manifest.snapshotMeta(spark, root, ver)
            new GenericInternalRow(Array[Any](ver,
              m.ts.map(ms => ms * 1000L).orNull,
              m.entries.size.toLong, m.entries.map(_.size).sum))
              : InternalRow
          }.toArray)
      case "files" =>
        val schema = StructType(Seq(
          StructField("path", StringType, nullable = false),
          StructField("partition", StringType, nullable = false),
          StructField("size_bytes", LongType, nullable = false),
          StructField("row_count", LongType, nullable = true),
          StructField("seq", LongType, nullable = true)))
        relation(spark, s"$root#files@$v", schema,
          Manifest.snapshotMeta(spark, root, v).entries.map { e =>
            new GenericInternalRow(Array[Any](u(e.path),
              u(partString(e.path)),
              e.size,
              e.fileStats.map(s => Long.box(s.rows)).orNull,
              e.seq.map(Long.box).orNull)): InternalRow
          }.toArray)
      case "partitions" =>
        val schema = StructType(Seq(
          StructField("partition", StringType, nullable = false),
          StructField("files", LongType, nullable = false),
          StructField("row_count", LongType, nullable = true),
          StructField("bytes", LongType, nullable = false)))
        val groups = Manifest.snapshotMeta(spark, root, v).entries
          .groupBy(e => partString(e.path)).toSeq.sortBy(_._1)
        relation(spark, s"$root#partitions@$v", schema,
          groups.map { case (p, es) =>
            // NULL row_count rollup when ANY member lacks stats — an
            // undercount would read as truth
            val rows = es.map(_.fileStats.map(_.rows))
            new GenericInternalRow(Array[Any](u(p), es.size.toLong,
              if (rows.exists(_.isEmpty)) null else Long.box(rows.flatten.sum),
              es.map(_.size).sum)): InternalRow
          }.toArray)
      case "delete_files" =>
        // pending merge-on-read delete files of the snapshot: the keys
        // they erase apply to data files with STRICTLY smaller seq
        val schema = StructType(Seq(
          StructField("path", StringType, nullable = false),
          StructField("size_bytes", LongType, nullable = false),
          StructField("seq", LongType, nullable = false),
          StructField("key_columns", StringType, nullable = false)))
        relation(spark, s"$root#delete_files@$v", schema,
          Manifest.snapshotMeta(spark, root, v).deletes.map { d =>
            new GenericInternalRow(Array[Any](u(d.path),
              d.size, d.seq,
              u(d.keyCols.mkString(",")))): InternalRow
          }.toArray)
      case "tags" =>
        val schema = StructType(Seq(
          StructField("name", StringType, nullable = false),
          StructField("version", LongType, nullable = false)))
        relation(spark, s"$root#tags", schema,
          Manifest.tags(spark, root).toSeq.sortBy(_._1).map {
            case (n, ver) =>
              new GenericInternalRow(Array[Any](u(n), ver)): InternalRow
          }.toArray)
      case "branches" =>
        val schema = StructType(Seq(
          StructField("name", StringType, nullable = false),
          StructField("head", LongType, nullable = false)))
        relation(spark, s"$root#branches", schema,
          Manifest.branches(spark, root).toSeq.sortBy(_._1).map {
            case (n, h) =>
              new GenericInternalRow(Array[Any](u(n), h)): InternalRow
          }.toArray)
      case "constraints" =>
        val schema = StructType(Seq(
          StructField("name", StringType, nullable = false),
          StructField("expr", StringType, nullable = false)))
        relation(spark, s"$root#constraints", schema,
          Manifest.constraintsOf(spark, root).toSeq.sortBy(_._1).map {
            case (n, e) =>
              new GenericInternalRow(Array[Any](u(n), u(e))): InternalRow
          }.toArray)
    }
  }

  /** Rows-per-relation threshold above which a metadata table is served
    * through a DISTRIBUTED batch scan instead of a driver-side
    * LocalScan. Below it (the common case — history/tags/branches are
    * O(snapshots), and most tables hold well under 10⁵ files) a
    * LocalTableScan is strictly better: no tasks, no serialization.
    * Above it — a 100 TB table has ~10⁶ files, and `SELECT * FROM
    * db.t.files` joined against anything would otherwise drag a
    * multi-GB LocalTableScan through the driver plan (Iceberg
    * distributes these scans for the same reason) — the rows ship to
    * executors in chunks and the join/aggregate runs distributed. */
  private[connector] val LocalScanThresholdKey =
    "spark.graft.metadataTables.localScanThreshold"
  private val LocalScanThresholdDefault = 100000

  private def relation(spark: SparkSession, tableName: String,
                       tableSchema: StructType,
                       tableRows: Array[InternalRow]): Table = {
    val threshold = spark.conf
      .getOption(LocalScanThresholdKey).map(_.toInt)
      .getOrElse(LocalScanThresholdDefault)
    val scanOf: () => Scan =
      if (tableRows.length <= threshold)
        () => new LocalScan {
          override def rows(): Array[InternalRow] = tableRows
          override def readSchema(): StructType = tableSchema
        }
      else {
        // chunk so each task carries ~threshold rows (>=1 chunk per
        // core up to the row count): parallel enough to join at scale,
        // coarse enough that task overhead stays negligible
        val width = spark.sparkContext.defaultParallelism.max(1)
        val perChunk = math.max(1,
          math.min(threshold, math.ceil(tableRows.length.toDouble / width)
            .toInt))
        () => new DistributedMetaScan(tableSchema,
          tableRows.grouped(perChunk).map(MetaChunk(_)).toArray)
      }
    new Table with SupportsRead {
      override def name(): String = tableName
      override def schema(): StructType = tableSchema
      override def capabilities(): java.util.Set[TableCapability] =
        java.util.EnumSet.of(TableCapability.BATCH_READ)
      override def newScanBuilder(options: CaseInsensitiveStringMap)
          : ScanBuilder = new ScanBuilder {
        override def build(): Scan = scanOf()
      }
    }
  }

  /** A metadata chunk: its rows ride the serialized InputPartition to
    * the executor (InternalRow/UTF8String are Serializable) — same
    * mechanism Spark uses for LocalTableScan broadcast, but split into
    * parallel tasks. */
  private final case class MetaChunk(chunkRows: Array[InternalRow])
    extends InputPartition

  private final class DistributedMetaScan(
      scanSchema: StructType, chunks: Array[InputPartition])
    extends Scan with Batch {
    override def readSchema(): StructType = scanSchema
    override def toBatch: Batch = this
    override def planInputPartitions(): Array[InputPartition] = chunks
    override def createReaderFactory(): PartitionReaderFactory =
      MetaReaderFactory
  }

  private object MetaReaderFactory extends PartitionReaderFactory {
    override def createReader(p: InputPartition)
        : PartitionReader[InternalRow] =
      new PartitionReader[InternalRow] {
        private val it = p.asInstanceOf[MetaChunk].chunkRows.iterator
        private var cur: InternalRow = _
        override def next(): Boolean =
          if (it.hasNext) { cur = it.next(); true } else false
        override def get(): InternalRow = cur
        override def close(): Unit = ()
      }
  }
}
