package graft.sources

import java.io.ByteArrayInputStream

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions.{col, input_file_name}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.sources.{And, EqualNullSafe, EqualTo, Filter => SFilter, In, Or}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.util.sketch.BloomFilter

/** Per-file Bloom-filter sidecars for point-lookup file pruning.
  *
  * Zone maps ([[ManifestStats]]) prune a file when the predicate falls
  * outside its min/max envelope — which is only selective when the
  * column is clustered. A point lookup on a HIGH-CARDINALITY UNCLUSTERED
  * column (`WHERE o_custkey = 12345` against files written in arrival
  * order) finds every file's envelope spanning nearly the full domain:
  * zone maps prune nothing and the scan reads the whole table. At 100 TB
  * / 10^6 files that is the difference between one task and a full sweep.
  *
  * The fix is the standard one (parquet bloom filters, Iceberg puffin
  * sidecars, Delta bloom indexes): a per-file Bloom filter over the
  * column's values, consulted at PLANNING time. A bloom answering
  * "definitely absent" drops the file from the plan; "maybe present"
  * keeps it, and the pushed filter stays residual — false positives cost
  * IO only, never correctness.
  *
  * Layout: `<root>/_blooms/<dataFileRel>.<col>.bloom`, one serialized
  * `org.apache.spark.util.sketch.BloomFilter` per (data file, column),
  * mirroring the data directory tree. Data files are immutable until
  * vacuum, so a sidecar never goes stale; files added AFTER a build have
  * no sidecar and simply survive pruning until the next (incremental)
  * [[build]] covers them. The `blooms` manifest header announces the
  * covered columns, so tables without blooms pay zero planning overhead.
  *
  * Keys are XXH64-hashed exactly like this library's `bloom_filter_agg`
  * / `might_contain` SQL surface (and Spark's own runtime filters), so
  * the planner-side probe hashes the pushed literal with the SAME
  * expression the build side used on the column.
  *
  * Reference capability: the reference's point lookups hit a key-value
  * GSI (`query-data-lambda.py:160-193`); at lake scale the analog is
  * skipping-index metadata over immutable files, not a secondary store.
  */
object ManifestBlooms {

  val Dir = "_blooms"
  /** Manifest header: JSON `{"cols":[...],"fpp":N}`. */
  val MetaKey = "blooms"
  /** Version the last build ran against (staleness observability —
    * advisory, like `colstats-v`). */
  val MetaVersionKey = "blooms-v"

  def sidecarRel(fileRel: String, colName: String): String =
    s"$Dir/$fileRel.$colName.bloom"

  /** Decode the `blooms` header; (cols, fpp). Empty on any
    * irregularity — the header is advisory, never load-bearing. */
  def decodeMeta(meta: Map[String, String]): (Seq[String], Double) =
    meta.get(MetaKey).map { s =>
      try {
        import org.json4s._
        import org.json4s.jackson.JsonMethods
        JsonMethods.parse(s) match {
          case JObject(fields) =>
            val m = fields.toMap
            val cols = m.get("cols") match {
              case Some(JArray(vs)) =>
                vs.collect { case JString(c) => c }
              case _ => Nil
            }
            val fpp = m.get("fpp") match {
              case Some(JDouble(d)) => d
              case _                => 0.01
            }
            (cols, fpp)
          case _ => (Nil, 0.01)
        }
      } catch { case scala.util.control.NonFatal(_) => (Nil, 0.01) }
    }.getOrElse((Nil, 0.01))

  /** Build (or incrementally extend) the bloom sidecars for `cols` over
    * the CURRENT snapshot, then publish a metadata-only commit recording
    * the covered columns. Only files LACKING a sidecar for some target
    * column are read — a build after an append costs one pass over the
    * appended files, and a re-run over a fully-covered table reads
    * nothing. One distributed job: per-file partial blooms combine
    * map-side, sidecars are written from the executors (never collected
    * to the driver). Returns the new table version. */
  def build(spark: SparkSession, root: String, cols: Seq[String],
            fpp: Double = 0.01): Long = {
    require(cols.nonEmpty, "build needs at least one column")
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    val cur = Manifest.latestVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"$root not initialized"))
    val snap = Manifest.snapshotMeta(spark, root, cur)
    val full = snap.schema
    val partCols = snap.partCols.toSet
    val dataSchema = StructType(
      full.fields.filterNot(f => partCols.contains(f.name)))
    cols.foreach { c =>
      require(!partCols.contains(c),
        s"'$c' is a partition column — partition pruning already " +
          "answers equality on it exactly; blooms are for data columns")
      val f = dataSchema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"cannot bloom '$c': not a data column of $root " +
            s"(${dataSchema.fieldNames.mkString(", ")})"))
      require(!f.dataType.isInstanceOf[org.apache.spark.sql.types
          .ArrayType] &&
        !f.dataType.isInstanceOf[org.apache.spark.sql.types.MapType] &&
        !f.dataType.isInstanceOf[StructType],
        s"cannot bloom '$c': ${f.dataType.catalogString} is not an " +
          "atomic type")
    }

    val (fs, _) = Manifest.fsOf(spark, root)
    // one recursive listing of the sidecar tree beats N×C exists calls
    val existing: Set[String] = {
      val d = new Path(s"$root/$Dir")
      if (!fs.exists(d)) Set.empty
      else {
        val it = fs.listFiles(d, true)
        val b = Set.newBuilder[String]
        val rootLen = fs.makeQualified(new Path(root)).toUri.getPath.length
        while (it.hasNext) {
          b += it.next().getPath.toUri.getPath.substring(rootLen + 1)
        }
        b.result()
      }
    }
    val missing = snap.entries.filter(e =>
      cols.exists(c => !existing.contains(sidecarRel(e.path, c))))

    if (missing.nonEmpty) {
      // size every filter for the LARGEST uncovered file: smaller files
      // land a lower fpp than asked — conservative in the right direction
      val estItems = missing.flatMap(_.fileStats.map(_.rows))
        .reduceOption(_ max _).getOrElse(1000000L).max(1L)
      val numBits = BloomFilter.create(estItems, fpp).bitSize()
      val paths = missing.map(e => s"$root/${e.path}")
      val df = spark.read.schema(dataSchema).parquet(paths: _*)
      val aggs = cols.map { c =>
        ColumnBridge.column(new BloomFilterAggregate(
          new XxHash64(Seq(ColumnBridge.expression(col(c)))),
          Literal(estItems), Literal(numBits)).toAggregateExpression())
          .as(s"bloom:$c")
      }
      val perFile = df.groupBy(input_file_name().as("_f"))
        .agg(aggs.head, aggs.tail: _*)
      val confEntries = spark.sparkContext.hadoopConfiguration
        .iterator()
      val confArr = {
        val b = Array.newBuilder[(String, String)]
        while (confEntries.hasNext) {
          val e = confEntries.next(); b += ((e.getKey, e.getValue))
        }
        b.result()
      }
      val colsArr = cols.toArray
      val rootStr = root
      perFile.foreachPartition {
        (rows: Iterator[org.apache.spark.sql.Row]) =>
          val c = new Configuration(false)
          confArr.foreach { case (k, v) => c.set(k, v) }
          val efs = new Path(rootStr).getFileSystem(c)
          rows.foreach { r =>
            val abs = r.getString(0)
            // data-file rel paths always start with "data/"; the last
            // "/data/" in the absolute URI is that root (a partition
            // dir would render as "data=v", never a bare "data")
            val i = abs.lastIndexOf("/data/")
            require(i >= 0, s"unexpected data path $abs")
            val rel = abs.substring(i + 1)
            colsArr.zipWithIndex.foreach { case (cn, ci) =>
              val bytes = r.getAs[Array[Byte]](ci + 1)
              if (bytes != null) {
                val p = new Path(s"$rootStr/${sidecarRel(rel, cn)}")
                efs.mkdirs(p.getParent)
                val out = efs.create(p, true) // idempotent content
                try out.write(bytes) finally out.close()
              }
            }
          }
      }
    }

    // a scan before this build may have cached "no sidecar" for files
    // the build just covered — drop those negative entries so pruning
    // takes effect immediately (staleness here only costs IO, never
    // correctness, but a served point-lookup should not wait out a
    // cache generation)
    BloomCache.clear()

    // metadata-only commit: same files, covered-column union recorded
    val (prevCols, _) = decodeMeta(snap.meta)
    val allCols = (prevCols ++ cols).distinct.sorted
    val json = {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      JsonMethods.compact(JsonMethods.render(JObject(
        "cols" -> JArray(allCols.map(JString(_)).toList),
        "fpp" -> JDouble(fpp))))
    }
    Manifest.publish(spark, root, cur, snap.entries,
      snap.meta + (MetaKey -> json) +
        (MetaVersionKey -> (cur + 1).toString),
      snap.deletes)
  }

  // ---- planning-time probe ---------------------------------------------

  /** Driver-side sidecar cache: deserialized filter per sidecar path,
    * negative entries (`None`) for files without one. A bloom is a few
    * hundred KB; bound the cache like the delete-set cache does. */
  private object BloomCache {
    private val MaxEntries = 256
    private val cache = new java.util.concurrent.ConcurrentHashMap[
      String, Option[BloomFilter]]()
    def getOrLoad(path: String, load: () => Option[BloomFilter])
        : Option[BloomFilter] = {
      val hit = cache.get(path)
      if (hit != null) return hit
      val v = load()
      if (cache.size >= MaxEntries) cache.clear()
      cache.putIfAbsent(path, v)
      v
    }
    def clear(): Unit = cache.clear()
  }

  /** XXH64 of a pushed-filter literal under the column's declared type
    * — the exact hash the build side computed on the column values. */
  private def hashLiteral(v: Any, dt: DataType): Option[Long] =
    try {
      new XxHash64(Seq(Literal.create(v, dt))).eval(null) match {
        case l: java.lang.Long => Some(l.longValue())
        case _                 => None
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** A per-scan pruner over the pushed data filters, or `None` when the
    * table has no bloom header, no filter touches a covered column, or
    * no filter shape is bloom-decidable — the common case, which must
    * cost nothing. Evaluation is conservative three-valued: only a
    * definite "no sidecar-covered value can match" drops a file. */
  def prunerFor(root: String, schema: StructType,
                tableMeta: Map[String, String],
                filters: Array[SFilter]): Option[Pruner] = {
    val (covered, _) = decodeMeta(tableMeta)
    if (covered.isEmpty || filters.isEmpty) return None
    val dtOf = schema.fields.map(f => f.name -> f.dataType).toMap
    def decidable(f: SFilter): Boolean = f match {
      case EqualTo(c, v) => v != null && covered.contains(c)
      case EqualNullSafe(c, v) => v != null && covered.contains(c)
      case In(c, vs) => vs != null && vs.nonEmpty &&
        vs.forall(_ != null) && covered.contains(c)
      case And(l, r) => decidable(l) || decidable(r)
      case Or(l, r)  => decidable(l) && decidable(r)
      case _         => false
    }
    if (!filters.exists(decidable)) return None
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    Some(new Pruner(root, conf, dtOf, covered.toSet, filters))
  }

  final class Pruner private[ManifestBlooms] (
      root: String, conf: Configuration, dtOf: Map[String, DataType],
      covered: Set[String], filters: Array[SFilter]) {

    // literal hashes computed once per scan, not once per file
    private val hashOf = mutable.Map.empty[(String, Any), Option[Long]]
    private def hash(c: String, v: Any): Option[Long] =
      hashOf.getOrElseUpdate((c, v),
        dtOf.get(c).flatMap(hashLiteral(v, _)))

    private def bloomFor(fileRel: String, c: String)
        : Option[BloomFilter] = {
      val p = s"$root/${sidecarRel(fileRel, c)}"
      BloomCache.getOrLoad(p, () =>
        try {
          val path = new Path(p)
          val fs = path.getFileSystem(conf)
          if (!fs.exists(path)) None
          else {
            val in = fs.open(path)
            try Some(BloomFilter.readFrom(in)) finally in.close()
          }
        } catch { case scala.util.control.NonFatal(_) => None })
    }

    /** May any row of `fileRel` satisfy the pushed filters? Unknown
      * shapes, uncovered columns, missing sidecars, and unhashable
      * literals all answer true (survive). */
    def mayMatch(fileRel: String): Boolean = {
      def probe(c: String, v: Any): Boolean =
        if (!covered.contains(c)) true
        else (bloomFor(fileRel, c), hash(c, v)) match {
          case (Some(bf), Some(h)) => bf.mightContainLong(h)
          case _                   => true
        }
      def eval(f: SFilter): Boolean = f match {
        case EqualTo(c, v) if v != null       => probe(c, v)
        case EqualNullSafe(c, v) if v != null => probe(c, v)
        case In(c, vs) if vs != null && vs.nonEmpty &&
          vs.forall(_ != null) => vs.exists(probe(c, _))
        case And(l, r) => eval(l) && eval(r)
        case Or(l, r)  => eval(l) || eval(r)
        case _         => true
      }
      filters.forall(eval)
    }
  }

  /** Sidecars for data files that no longer exist (reclaimed by vacuum
    * / expiration, or never committed) — delete them. One listing of
    * each tree; returns the removed sidecar rel paths. */
  def removeOrphanSidecars(spark: SparkSession, root: String)
      : Seq[String] = {
    val (fs, _) = Manifest.fsOf(spark, root)
    val d = new Path(s"$root/$Dir")
    if (!fs.exists(d)) return Nil
    val rootLen = fs.makeQualified(new Path(root)).toUri.getPath.length
    val dead = mutable.ArrayBuffer.empty[String]
    val it = fs.listFiles(d, true)
    while (it.hasNext) {
      val st = it.next()
      val rel = st.getPath.toUri.getPath.substring(rootLen + 1)
      // _blooms/<dataRel>.<col>.bloom → <dataRel>
      val dataRel = rel.stripPrefix(s"$Dir/") match {
        case s if s.endsWith(".bloom") =>
          val noExt = s.dropRight(".bloom".length)
          val cut = noExt.lastIndexOf('.')
          if (cut > 0) noExt.substring(0, cut) else noExt
        case s => s
      }
      if (!fs.exists(new Path(s"$root/$dataRel"))) {
        fs.delete(st.getPath, false)
        dead += rel
      }
    }
    dead.toSeq
  }
}
