package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And => CatalystAnd, AttributeReference, BoundReference, EqualNullSafe => CatalystEqNullSafe, EqualTo => CatalystEq, Expression, GenericInternalRow, GreaterThan => CatalystGt, GreaterThanOrEqual => CatalystGe, In => CatalystIn, IsNotNull => CatalystIsNotNull, IsNull => CatalystIsNull, LessThan => CatalystLt, LessThanOrEqual => CatalystLe, Literal, Or => CatalystOr, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.StructType

/** A [[FileIndex]] over one manifest snapshot: the file list, sizes,
  * partition tuples and column zone maps all come from MANIFEST
  * METADATA — planning a read touches the filesystem zero times (no
  * directory listing, no `getFileStatus`), which is the property that
  * makes a 100 TB table with millions of files plannable from one
  * driver-side text read. This is the same design Iceberg/Delta use:
  * the log, not the filesystem, is the source of truth for what a
  * snapshot contains.
  *
  * Feeding this to a single `HadoopFsRelation` (see [[Manifest.read]])
  * replaces the old one-relation-per-commit union: one vectorized
  * parquet scan, one `FileSourceScanExec` with real `PartitionFilters`
  * pruning, regardless of how many commits the snapshot spans.
  *
  * Two pruning layers run inside `listFiles`:
  *  - '''partition pruning''': Spark's partition-column conjuncts are
  *    bound to [[partitionSchema]] positions and evaluated against
  *    each directory's partition `InternalRow` — SQL three-valued
  *    semantics for free (a NULL comparison is not TRUE, so the file
  *    is pruned), unlike hand-rolled string matching;
  *  - '''stats skipping''': data-column conjuncts are tested against
  *    each file's manifest-carried min/max/null-count zone map
  *    ([[ManifestStats]]) — a file whose envelope cannot satisfy a
  *    filter is never planned at all (no task, no footer IO). Purely
  *    IO-skip: Spark re-evaluates data filters on the rows it reads.
  */
final class ManifestFileIndex(
    root: String,
    files: Seq[Manifest.FileEntry], // sizes resolved by the caller
    override val partitionSchema: StructType) extends FileIndex {

  override val rootPaths: Seq[Path] = Seq(new Path(root))

  /** One PartitionDirectory per distinct partition tuple, built once,
    * each file paired with its decoded zone map. Sorted for
    * deterministic plans. */
  private val dirs: Seq[(PartitionDirectory,
      Seq[Option[ManifestStats.FileStats]])] = {
    val wantCols = partitionSchema.fieldNames.toSeq
    files.groupBy(e => Manifest.partValuesOf(e.path)).toSeq
      .sortBy(_._1.map(kv => String.valueOf(kv._2)).mkString(" "))
      .map { case (pvs, fs) =>
        require(pvs.map(_._1) == wantCols,
          s"manifest table $root has a file whose partition layout " +
            s"${pvs.map(_._1).mkString("[", ",", "]")} does not match " +
            s"the table's ${wantCols.mkString("[", ",", "]")} — mixed " +
            "layouts across commits; rewrite (commitReplace) to converge")
        val row = new GenericInternalRow(
          pvs.zipWithIndex.map { case ((_, v), i) =>
            Manifest.partValue(v, partitionSchema(i).dataType)
          }.toArray[Any])
        val statuses = fs.map { e =>
          // FileStatus synthesized from manifest metadata: files are
          // immutable once committed, so the recorded length is exact
          // and mtime is irrelevant to the scan
          new FileStatus(e.size, false, 1,
            128L * 1024 * 1024, 0L,
            new Path(Manifest.absEntryPath(root, e.path)))
        }.toArray
        (PartitionDirectory(row: InternalRow, statuses),
          fs.map(_.fileStats))
      }
  }

  /** Conservative "can any row of a file with these stats satisfy this
    * data filter?" over catalyst expressions. Unknown shapes → true. */
  private def mayMatch(e: Expression,
                       st: ManifestStats.FileStats): Boolean = e match {
    case CatalystEq(a: AttributeReference, Literal(v, _)) if v != null =>
      ManifestStats.mayEqual(st, a.name, v)
    case CatalystEq(Literal(v, _), a: AttributeReference) if v != null =>
      ManifestStats.mayEqual(st, a.name, v)
    case CatalystEqNullSafe(a: AttributeReference, Literal(v, _)) =>
      if (v == null) ManifestStats.mayBeNull(st, a.name)
      else ManifestStats.mayEqual(st, a.name, v)
    case CatalystGt(a: AttributeReference, Literal(v, _)) if v != null =>
      ManifestStats.mayCompare(st, a.name, "gt", v)
    case CatalystGt(Literal(v, _), a: AttributeReference) if v != null =>
      ManifestStats.mayCompare(st, a.name, "lt", v)
    case CatalystGe(a: AttributeReference, Literal(v, _)) if v != null =>
      ManifestStats.mayCompare(st, a.name, "ge", v)
    case CatalystGe(Literal(v, _), a: AttributeReference) if v != null =>
      ManifestStats.mayCompare(st, a.name, "le", v)
    case CatalystLt(a: AttributeReference, Literal(v, _)) if v != null =>
      ManifestStats.mayCompare(st, a.name, "lt", v)
    case CatalystLt(Literal(v, _), a: AttributeReference) if v != null =>
      ManifestStats.mayCompare(st, a.name, "gt", v)
    case CatalystLe(a: AttributeReference, Literal(v, _)) if v != null =>
      ManifestStats.mayCompare(st, a.name, "le", v)
    case CatalystLe(Literal(v, _), a: AttributeReference) if v != null =>
      ManifestStats.mayCompare(st, a.name, "ge", v)
    case CatalystIn(a: AttributeReference, vs)
      if vs.forall(_.isInstanceOf[Literal]) =>
      vs.exists { case Literal(v, _) =>
        v != null && ManifestStats.mayEqual(st, a.name, v) }
    case CatalystIsNull(a: AttributeReference) =>
      ManifestStats.mayBeNull(st, a.name)
    case CatalystIsNotNull(a: AttributeReference) =>
      ManifestStats.mayBeNonNull(st, a.name)
    case CatalystAnd(l, r) => mayMatch(l, st) && mayMatch(r, st)
    case CatalystOr(l, r)  => mayMatch(l, st) || mayMatch(r, st)
    case _ => true
  }

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression])
      : Seq[PartitionDirectory] = {
    val afterPartition =
      if (partitionFilters.isEmpty || partitionSchema.isEmpty) dirs
      else {
        val bound = partitionFilters.reduce(CatalystAnd).transform {
          case a: AttributeReference =>
            BoundReference(partitionSchema.fieldIndex(a.name),
              a.dataType, a.nullable)
        }
        val predicate = Predicate.createInterpreted(bound)
        predicate.initialize(0)
        dirs.filter { case (d, _) => predicate.eval(d.values) }
      }
    if (dataFilters.isEmpty) afterPartition.map(_._1)
    else afterPartition.map { case (d, stats) =>
      val kept = d.files.zip(stats).collect {
        case (f, st) if st.forall(s =>
          dataFilters.forall(mayMatch(_, s))) => f
      }
      PartitionDirectory(d.values, kept)
    }.filter(_.files.nonEmpty)
  }

  override def inputFiles: Array[String] =
    files.map(e => s"$root/${e.path}").toArray

  override def refresh(): Unit = () // snapshot-frozen: nothing to refresh

  override def sizeInBytes: Long = files.map(_.size).sum
}
