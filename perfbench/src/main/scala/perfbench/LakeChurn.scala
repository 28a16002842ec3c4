package perfbench

import java.sql.Timestamp

import scala.collection.mutable
import scala.io.Source

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.sources.Manifest

/** The orders half of `lake_churn`: a manifest table of orders (partitioned by
  * `o_orderstatus`) under a seeded op stream — point/filter reads, half
  * through `Manifest.read(...).filter` (V1) and half through SQL on the
  * `graft` catalog (DSv2), beside `commitAppend`, `mergeInto` upserts
  * and single-key `deleteWhere`. After every `MaintainEvery` blocks of
  * ops (6 commits) one `maintain` op runs `compact` + `vacuum`.
  * `StreamCurate` runs beside it in the same workload.
  *
  * Checks: the harness keeps the expected key → row model; every read
  * must equal it, and the final table must equal it row for row. */
final class LakeChurn(spark: SparkSession, data: String, work: String,
                      seed: Long, rec: Recorder) extends Workload {
  import LakeChurn._

  private val schema = spark.read.parquet(s"$data/orders.parquet").schema
  private val opsLines: IndexedSeq[String] = {
    val s = Source.fromFile(s"$data/ops.tsv")
    try s.getLines().toIndexedSeq finally s.close()
  }
  private var at = 0
  private var conflicts = 0
  private var root = ""
  private var table = ""
  private val model = mutable.HashMap.empty[Long, Order]
  private val byCust = mutable.HashMap.empty[Long, mutable.Set[Long]]

  private def put(o: Order): Unit = {
    model.remove(o.key).foreach(p => byCust(p.cust) -= o.key)
    model(o.key) = o
    byCust.getOrElseUpdate(o.cust, mutable.Set.empty) += o.key
  }

  private def remove(k: Long): Unit =
    model.remove(k).foreach(p => byCust(p.cust) -= k)

  def setup(rep: Int): Unit = {
    if (root.nonEmpty) rmrf(root.stripPrefix("file://"))
    table = s"orders_r$rep"
    root = s"file://$work/warehouse/db/$table"
    Manifest.init(spark, root, spark.read.parquet(s"$data/orders.parquet"),
      Seq(Part))
  }

  def warmup(): Double = {
    val t0 = System.nanoTime()
    model.clear(); byCust.clear()
    spark.read.parquet(s"$data/orders.parquet").collect().foreach(r => put(order(r)))
    val modelS = (System.nanoTime() - t0) / 1e9
    // one op of every kind against keys the stream never touches
    // (warm-up rows are removed again, so the model stays exact)
    val k = -1L
    val o = Order(k, 1L, "F", 1.5, 0L, "5-LOW")
    val df = frame(Seq(o))
    rec.op("append", read = false)(Manifest.commitAppend(spark, root, df,
      Seq(Part)))(_ => None)
    rec.op("merge", read = false)(Manifest.mergeInto(spark, root,
      frame(Seq(o.copy(price = 2.5))), Key, Seq(Part)))(_ => None)
    // reads warm up longest (each fresh literal compiles a new plan)
    for (i <- 1 to WarmupReads; path <- Seq("v1", "sql"); kind <- Seq("key", "cust"))
      rec.op("lookup", read = true)(lookup(path, kind, if (kind == "key") k else i.toLong))(_ => None)
    rec.op("delete", read = false)(Manifest.deleteWhere(spark, root,
      col(Key) === k, Seq(Part)))(_ => None)
    rec.op("maintain", read = false)(maintain())(_ => None)
    modelS
  }

  private def lookup(path: String, kind: String, v: Long): Array[Row] = {
    val c = if (kind == "key") Key else "o_custkey"
    if (path == "v1") {
      val df = Trace.span("manifest.read")(Manifest.read(spark, root))
      Trace.span("collect")(df.filter(col(c) === v).collect())
    } else {
      val df = Trace.span("connector.sql_read")(
        spark.sql(s"SELECT * FROM graft.db.$table WHERE $c = $v"))
      Trace.span("collect")(df.collect())
    }
  }

  private def maintain(): Unit = {
    Trace.span("manifest.compact")(Manifest.compact(spark, root))
    Trace.span("manifest.vacuum")(Manifest.vacuum(spark, root, 2))
  }

  private def frame(os: Seq[Order]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(os.map(o => Row(o.key,
      o.cust, o.status, o.price, new Timestamp(o.dateSec * 1000L),
      o.prio)): _*), schema)

  private def commit(kind: String)(f: => Long): Unit =
    rec.op(kind, read = false) {
      try f catch { case e: IllegalStateException
          if String.valueOf(e.getMessage).contains("commit conflict") =>
        conflicts += 1; throw e }
    } { _ => None }

  /** One round = `MaintainEvery` blocks of `BlockOps` ops (the
    * generator's unit of fixed traffic shares), then one `maintain`. */
  def step(): Boolean = {
    val n = BlockOps * MaintainEvery
    if (at + n > opsLines.size) return false
    (at until at + n).foreach(i => runOp(opsLines(i).split("\t")))
    at += n
    rec.op("maintain", read = false)(maintain())(_ => None)
    true
  }

  private def runOp(f: Array[String]): Unit =
    f(0) match {
      case "R" =>
        val v = f(3).toLong
        rec.op("lookup", read = true, label = s"${f(1)}-${f(2)}")(
            lookup(f(1), f(2), v)) { rows =>
          val got = rows.map(order).sortBy(_.key).toSeq
          val want = (if (f(2) == "key") model.get(v).toSeq
            else byCust.getOrElse(v, Nil).toSeq.map(model)).sortBy(_.key)
          if (got == want) None
          else Some(s"${f(1)} ${f(2)}=$v returned ${got.size} rows " +
            s"${got.take(2)}, model has ${want.size} ${want.take(2)}")
        }
      case "A" =>
        val os = parseRows(f(1))
        commit("append")(Trace.span("manifest.append")(
          Manifest.commitAppend(spark, root, frame(os), Seq(Part))))
        os.foreach(put)
      case "M" =>
        val os = parseRows(f(1))
        commit("merge")(Trace.span("manifest.merge")(
          Manifest.mergeInto(spark, root, frame(os), Key, Seq(Part))))
        os.foreach(put)
      case "D" =>
        val k = f(1).toLong
        commit("delete")(Trace.span("manifest.delete")(
          Manifest.deleteWhere(spark, root, col(Key) === k, Seq(Part))))
        remove(k)
    }

  def finish(): Unit = {
    val rows = Manifest.read(spark, root).collect().map(order)
    val got = rows.map(o => o.key -> o).toMap
    val missing = model.keys.count(k => !got.get(k).contains(model(k)))
    rec.check("lake.final_table",
      rows.length == model.size && got.size == rows.length && missing == 0,
      s"table ${rows.length} rows (${got.size} distinct keys), model " +
        s"${model.size}, $missing model rows absent or different")
  }

  def layerMetrics(): Seq[(String, Double)] = {
    val live = Manifest.snapshot(spark, root,
      Manifest.latestVersion(spark, root).get).files.size.toDouble
    val dir = new java.io.File(root.stripPrefix("file://"))
    val onDisk = du(dir).toDouble
    val plain = s"$work/plain-orders"
    Manifest.read(spark, root).write.mode("overwrite").parquet(plain)
    val plainBytes = du(new java.io.File(plain)).toDouble
    Seq("manifest.live_files" -> live,
      "manifest.commit_conflicts" -> conflicts.toDouble,
      "manifest.bytes_per_user_byte" -> onDisk / plainBytes)
  }
}

object LakeChurn {
  val Key = "o_orderkey"
  val Part = "o_orderstatus"
  val BlockOps = 10
  val WarmupReads = 2
  val MaintainEvery = 2

  final case class Order(key: Long, cust: Long, status: String,
                         price: Double, dateSec: Long, prio: String)

  def order(r: Row): Order = Order(r.getAs[Long]("o_orderkey"),
    r.getAs[Long]("o_custkey"), r.getAs[String]("o_orderstatus"),
    r.getAs[Double]("o_totalprice"),
    r.getAs[Timestamp]("o_orderdate").getTime / 1000L,
    r.getAs[String]("o_orderpriority"))

  /** 'key,cust,status,price,date_sec,priority' rows, ';'-joined. */
  def parseRows(s: String): Seq[Order] = s.split(";").toSeq.map { r =>
    val f = r.split(",", 6)
    Order(f(0).toLong, f(1).toLong, f(2), f(3).toDouble, f(4).toLong, f(5))
  }

  def du(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(du).sum
    else f.length()

  def rmrf(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(x => java.nio.file.Files.delete(x))
  }
}
