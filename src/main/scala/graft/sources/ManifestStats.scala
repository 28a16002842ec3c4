package graft.sources

import scala.collection.JavaConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._

import org.apache.spark.unsafe.types.UTF8String

import org.json4s._
import org.json4s.jackson.JsonMethods

/** Per-file column statistics carried in the manifest — the file-level
  * zone map every lakehouse format (Iceberg/Delta/Hudi) keeps in its
  * metadata layer. Collected ONCE at commit time from the parquet
  * footers of the just-written files (pure footer metadata, no data
  * pages), then consulted at planning time to skip whole files whose
  * `[min, max]` envelope cannot satisfy a pushed filter.
  *
  * Parquet already skips ROW GROUPS from the same statistics — but
  * only after a task was launched and the footer read. Manifest-level
  * stats skip the file BEFORE planning: no task, no footer IO, no
  * scheduler pressure. At 100 TB that is the difference between
  * launching a million no-op tasks and planning the three files that
  * can match.
  *
  * Everything here is CONSERVATIVE: a missing column, an unparsable
  * stats blob, an unsupported comparison — all answer "may match", so
  * skipping can never change results, only IO. (Pushed data filters are
  * residual-re-evaluated by Spark anyway; this layer only has to be
  * sound, and is doubly so.)
  *
  * Collection is one footer read per NEW file, in the task that has
  * just written it ([[graft.sources.connector.ManifestDataWriter]]):
  * O(files in THIS commit), never the table, at the write's own
  * parallelism, and the stats ride the task's commit message to the
  * driver.
  */
object ManifestStats {

  /** min/max/null-count of one column, typed by `tag`:
    * i64 (all ints), f64 (float/double), str (UTF8, byte order),
    * bool. Bounds absent when parquet recorded none (e.g. all-null
    * chunk or unsupported type). */
  final case class ColStats(tag: String, min: Option[String],
                            max: Option[String], nulls: Option[Long])

  final case class FileStats(rows: Long, cols: Map[String, ColStats])

  // ---- encoding (manifest line payload) --------------------------------

  def encode(fs: FileStats): String = {
    val cols = JObject(fs.cols.toList.sortBy(_._1).map { case (c, s) =>
      c -> JObject(List("t" -> JString(s.tag)) ++
        s.min.map(m => "min" -> (JString(m): JValue)) ++
        s.max.map(m => "max" -> (JString(m): JValue)) ++
        s.nulls.map(n => "nulls" -> (JLong(n): JValue)))
    })
    JsonMethods.compact(JsonMethods.render(
      JObject("rows" -> JLong(fs.rows), "cols" -> cols)))
  }

  /** None on any parse irregularity — the caller plans without stats. */
  def decode(s: String): Option[FileStats] =
    try {
      val j = JsonMethods.parse(s)
      val rows = (j \ "rows") match {
        case JLong(n) => n
        case JInt(n)  => n.toLong
        case _        => return None
      }
      val cols = (j \ "cols") match {
        case JObject(fields) => fields.flatMap { case (c, v) =>
          val tag = v \ "t" match { case JString(t) => t; case _ => "" }
          if (tag.isEmpty) None
          else Some(c -> ColStats(tag,
            v \ "min" match { case JString(m) => Some(m); case _ => None },
            v \ "max" match { case JString(m) => Some(m); case _ => None },
            v \ "nulls" match {
              case JLong(n) => Some(n)
              case JInt(n)  => Some(n.toLong)
              case _        => None
            }))
        }.toMap
        case _ => Map.empty[String, ColStats]
      }
      Some(FileStats(rows, cols))
    } catch { case scala.util.control.NonFatal(_) => None }

  // ---- collection (footer read in the writing task) --------------------

  private def tagOf(p: PrimitiveType): Option[String] =
    p.getPrimitiveTypeName match {
      case INT32 | INT64 => Some("i64")
      case FLOAT | DOUBLE => Some("f64")
      case BOOLEAN => Some("bool")
      case BINARY if p.getLogicalTypeAnnotation ==
        LogicalTypeAnnotation.stringType() => Some("str")
      case _ => None
    }

  private def boundString(tag: String, v: Any): String = v match {
    case b: Binary if tag == "str" => b.toStringUsingUTF8
    case other                     => String.valueOf(other)
  }

  /** Aggregate one file's row-group statistics into file-level stats.
    * Bounds survive only when EVERY row group recorded valid ones
    * (one opaque chunk poisons the whole file's envelope — anything
    * else would be an unsound bound). */
  def fromFooter(conf: Configuration, path: Path): Option[FileStats] =
    try {
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(path, conf))
      try {
        val blocks = reader.getFooter.getBlocks.asScala.toSeq
        val schema = reader.getFileMetaData.getSchema
        val rows = blocks.map(_.getRowCount).sum
        val cols = schema.getFields.asScala.toSeq
          .filter(_.isPrimitive).flatMap { f =>
            val prim = f.asPrimitiveType()
            tagOf(prim).flatMap { tag =>
              val name = f.getName
              val chunks = blocks.flatMap(_.getColumns.asScala.find(
                _.getPath.toDotString == name))
              if (chunks.size != blocks.size) None // column missing somewhere
              else {
                val stats = chunks.map(_.getStatistics)
                val nulls =
                  if (stats.forall(s => s != null && s.isNumNullsSet))
                    Some(stats.map(_.getNumNulls).sum)
                  else None
                val bounded = stats.forall(s =>
                  s != null && !s.isEmpty && s.hasNonNullValue)
                val (mn, mx) =
                  if (!bounded) (None, None)
                  else {
                    val mins = stats.map(s => boundString(tag, s.genericGetMin))
                    val maxs = stats.map(s => boundString(tag, s.genericGetMax))
                    (mins.reduceOption((a, b) =>
                       if (compareBounds(tag, a, b) <= 0) a else b),
                     maxs.reduceOption((a, b) =>
                       if (compareBounds(tag, a, b) >= 0) a else b))
                  }
                if (mn.isEmpty && mx.isEmpty && nulls.isEmpty) None
                else Some(name -> ColStats(tag, mn, mx, nulls))
              }
            }
          }.toMap
        Some(FileStats(rows, cols))
      } finally reader.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  // ---- comparison core --------------------------------------------------

  /** Compare two encoded bounds of the same tag. */
  private def compareBounds(tag: String, a: String, b: String): Int =
    tag match {
      case "i64"  => java.lang.Long.compare(a.toLong, b.toLong)
      case "f64"  => java.lang.Double.compare(a.toDouble, b.toDouble)
      case "bool" => java.lang.Boolean.compare(a.toBoolean, b.toBoolean)
      case _ => UTF8String.fromString(a).compareTo(UTF8String.fromString(b))
    }

  /** Compare an encoded bound against a FILTER value (external Scala
    * value or catalyst internal). None = not comparable → no skipping. */
  private def compareToValue(tag: String, bound: String,
                             v: Any): Option[Int] = (tag, v) match {
    case ("i64", x: Byte)  => Some(java.lang.Long.compare(bound.toLong, x.toLong))
    case ("i64", x: Short) => Some(java.lang.Long.compare(bound.toLong, x.toLong))
    case ("i64", x: Int)   => Some(java.lang.Long.compare(bound.toLong, x.toLong))
    case ("i64", x: Long)  => Some(java.lang.Long.compare(bound.toLong, x))
    case ("f64", x: Float) => Some(java.lang.Double.compare(bound.toDouble, x.toDouble))
    case ("f64", x: Double) => Some(java.lang.Double.compare(bound.toDouble, x))
    case ("bool", x: Boolean) => Some(java.lang.Boolean.compare(bound.toBoolean, x))
    case ("str", x: String) => Some(
      UTF8String.fromString(bound).compareTo(UTF8String.fromString(x)))
    case ("str", x: UTF8String) => Some(
      UTF8String.fromString(bound).compareTo(x))
    case _ => None
  }

  // ---- skip decisions (all conservative) --------------------------------

  /** Can a row with `col` = `v` exist in this file? */
  def mayEqual(st: FileStats, col: String, v: Any): Boolean =
    st.cols.get(col).forall { cs =>
      val aboveMin = cs.min.flatMap(m => compareToValue(cs.tag, m, v))
        .forall(_ <= 0)
      val belowMax = cs.max.flatMap(m => compareToValue(cs.tag, m, v))
        .forall(_ >= 0)
      aboveMin && belowMax
    }

  /** Can a row satisfying `col <op> v` exist? op ∈ gt, ge, lt, le. */
  def mayCompare(st: FileStats, col: String, op: String, v: Any): Boolean =
    st.cols.get(col).forall { cs =>
      op match {
        case "gt" => cs.max.flatMap(m => compareToValue(cs.tag, m, v))
          .forall(_ > 0)
        case "ge" => cs.max.flatMap(m => compareToValue(cs.tag, m, v))
          .forall(_ >= 0)
        case "lt" => cs.min.flatMap(m => compareToValue(cs.tag, m, v))
          .forall(_ < 0)
        case "le" => cs.min.flatMap(m => compareToValue(cs.tag, m, v))
          .forall(_ <= 0)
        case _ => true
      }
    }

  /** Can a NULL of `col` exist? */
  def mayBeNull(st: FileStats, col: String): Boolean =
    st.cols.get(col).flatMap(_.nulls).forall(_ > 0)

  /** Can a NON-NULL of `col` exist? */
  def mayBeNonNull(st: FileStats, col: String): Boolean =
    st.cols.get(col).flatMap(_.nulls).forall(_ < st.rows)
}
