package graft

import java.sql.{Date, Timestamp}
import java.time.Instant

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.plans.BoundLiteral
import graft.sources.Manifest
import graft.sources.connector.ManifestCatalog

/** Primitive literals in filters and projections
  * ([[graft.plans.BindPrimitiveLiterals]]):
  *
  *  - filters and projections over long, int, double, date, timestamp
  *    and boolean literals read through a manifest table return the
  *    rows a plain Scala model of Spark's comparison semantics selects:
  *    extreme longs, NaN (equal to itself, above every other double),
  *    -0.0 (equal to 0.0), null-safe equality, short IN lists and NULL
  *    literals;
  *  - after one warm call per plan shape, a call with a never-seen
  *    literal compiles no class, through `Manifest.read`, catalog SQL
  *    and an aggregate with an exchange;
  *  - a key that prunes every file plans the hit's shape and compiles
  *    no class either;
  *  - the executed plan still prints the literal's value. */
class CodegenReuseSpec extends SparkSpec {

  private val warehouse = "file://" + java.nio.file.Files
    .createTempDirectory("graft-codegen").toString

  spark.conf.set("spark.sql.catalog.reusecat",
    classOf[ManifestCatalog].getName)
  spark.conf.set("spark.sql.catalog.reusecat.root", warehouse)

  private def day(s: String) = Date.valueOf(s)
  private def at(s: String) = Timestamp.from(Instant.parse(s))

  /** (id, l, i, d, dt, ts, b); `null` marks a NULL cell. */
  private val rows: Seq[Row] = Seq(
    Row(0, Long.MinValue, Int.MinValue, Double.NaN, day("1970-01-01"),
      at("1970-01-01T00:00:00Z"), true),
    Row(1, -1L, -1, -0.0, day("2020-02-29"), at("2020-02-29T12:00:00Z"),
      false),
    Row(2, 0L, 0, 0.0, day("1999-12-31"), at("1999-12-31T23:59:59Z"), null),
    Row(3, 7L, 7, 1.5, day("2024-01-01"), at("2024-01-01T00:00:00.5Z"),
      true),
    Row(4, 42L, 42, Double.NegativeInfinity, null, null, false),
    Row(5, Long.MaxValue, Int.MaxValue, Double.PositiveInfinity,
      day("2020-02-29"), at("2020-02-29T12:00:00Z"), true),
    Row(6, null, null, null, day("1900-01-01"), at("1900-01-01T00:00:00Z"),
      false),
    Row(7, 7L, 3, Double.NaN, day("2100-06-15"), at("2100-06-15T06:30:00Z"),
      null))

  private val schema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("l", LongType), StructField("i", IntegerType),
    StructField("d", DoubleType), StructField("dt", DateType),
    StructField("ts", TimestampType), StructField("b", BooleanType)))

  /** The [[rows]] table, also reachable as `reusecat.db.lits`. */
  private lazy val root: String = {
    val r = s"$warehouse/db/lits"
    Manifest.init(spark, r, spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema).repartition(2))
    r
  }

  private def ids(c: Column): Set[Int] =
    Manifest.read(spark, root).filter(c).select("id").collect()
      .map(_.getInt(0)).toSet

  /** Ids of the model rows whose column `name` is non-NULL and passes
    * `p`. */
  private def want[T](name: String)(p: T => Boolean): Set[Int] = {
    val k = schema.fieldIndex(name)
    rows.filter(r => !r.isNullAt(k) && p(r.getAs[T](k)))
      .map(_.getInt(0)).toSet
  }

  /** Spark's double order: NaN equals NaN and sorts above everything,
    * -0.0 equals 0.0. */
  private def cmp(a: Double, b: Double): Int =
    if (a.isNaN && b.isNaN) 0 else if (a.isNaN) 1 else if (b.isNaN) -1
    else if (a == b) 0 else java.lang.Double.compare(a, b)

  test("long literals: extremes, ranges, IN and null-safe equality") {
    val l = col("l")
    assert(ids(l === Long.MinValue) == want[Long]("l")(_ == Long.MinValue))
    assert(ids(l === Long.MaxValue) == want[Long]("l")(_ == Long.MaxValue))
    assert(ids(l > Long.MinValue) == want[Long]("l")(_ > Long.MinValue))
    assert(ids(l < Long.MaxValue) == want[Long]("l")(_ < Long.MaxValue))
    assert(ids(l.between(-1L, 7L)) == want[Long]("l")(v => v >= -1 && v <= 7))
    assert(ids(l =!= 7L) == want[Long]("l")(_ != 7L))
    assert(ids(l.isin(0L, 7L, 42L, Long.MaxValue)) ==
      want[Long]("l")(Set(0L, 7L, 42L, Long.MaxValue)))
    assert(ids(l <=> 7L) == Set(3, 7))
    assert(ids(l <=> lit(null).cast(LongType)) == Set(6))
    assert(ids(l === lit(null).cast(LongType)).isEmpty)
    assert(ids(coalesce(l, lit(-5L)) === -5L) == Set(6))
  }

  test("int literals: extremes, ranges and IN") {
    val i = col("i")
    assert(ids(i === Int.MinValue) == want[Int]("i")(_ == Int.MinValue))
    assert(ids(i >= Int.MaxValue) == want[Int]("i")(_ >= Int.MaxValue))
    assert(ids(i < 0) == want[Int]("i")(_ < 0))
    assert(ids(i.isin(3, 7, 8)) == want[Int]("i")(Set(3, 7, 8)))
    assert(ids(i <=> 42) == Set(4))
  }

  test("double literals: NaN, -0.0 and infinities compare as Spark orders " +
    "them") {
    val d = col("d")
    def w(p: Double => Boolean) = want[Double]("d")(p)
    assert(ids(d === Double.NaN) == w(cmp(_, Double.NaN) == 0))
    assert(ids(d > 1.5) == w(cmp(_, 1.5) > 0))
    assert(ids(d < Double.NaN) == w(cmp(_, Double.NaN) < 0))
    assert(ids(d === -0.0) == w(cmp(_, -0.0) == 0))
    assert(ids(d === 0.0) == Set(1, 2))
    assert(ids(d < 0.0) == w(cmp(_, 0.0) < 0))
    assert(ids(d >= Double.PositiveInfinity) ==
      w(cmp(_, Double.PositiveInfinity) >= 0))
    assert(ids(d <=> Double.NaN) == Set(0, 7))
    assert(ids(d.isin(-0.0, Double.NegativeInfinity)) == Set(1, 2, 4))
  }

  test("date, timestamp and boolean literals") {
    assert(ids(col("dt") === day("2020-02-29")) == Set(1, 5))
    assert(ids(col("dt") > day("2000-01-01")) ==
      want[Date]("dt")(_.after(day("2000-01-01"))))
    assert(ids(col("ts") === at("2020-02-29T12:00:00Z")) == Set(1, 5))
    assert(ids(col("ts") >= at("2024-01-01T00:00:00.5Z")) ==
      want[Timestamp]("ts")(!_.before(at("2024-01-01T00:00:00.5Z"))))
    assert(ids(col("ts") < at("1970-01-01T00:00:00Z")) == Set(6))
    assert(ids(col("b") === true) == want[Boolean]("b")(identity))
    assert(ids(col("b") === false) == want[Boolean]("b")(!_))
    assert(ids(col("b") <=> lit(null).cast(BooleanType)) == Set(2, 7))
    assert(ids(col("b") && col("l") > 0L) == Set(3, 5))
  }

  test("projected primitive literals evaluate per row") {
    val got = Manifest.read(spark, root).select(col("id"),
        coalesce(col("l"), lit(-5L)).as("l"),
        (col("d") + 0.5).as("d"),
        when(col("b"), lit(1)).otherwise(lit(0)).as("b"),
        lit(9L).as("k"))
      .collect().map(r => r.getInt(0) -> r).toMap
    rows.foreach { r =>
      val g = got(r.getInt(0))
      assert(g.getLong(1) == (if (r.isNullAt(1)) -5L else r.getLong(1)))
      if (r.isNullAt(3)) assert(g.isNullAt(2))
      else assert(cmp(g.getDouble(2), r.getDouble(3) + 0.5) == 0)
      assert(g.getInt(3) == (if (!r.isNullAt(6) && r.getBoolean(6)) 1
        else 0))
      assert(g.getLong(4) == 9L)
    }
  }

  /** Janino compiles (driver and tasks) while `f` runs. */
  private def compiles(f: => Any): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    f
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  test("a read with a never-seen long key compiles nothing once its " +
    "plan shape is warm") {
    def read(k: Long) =
      Manifest.read(spark, root).filter(col("l") === k).collect()
    def sql(k: Long) =
      spark.sql(s"SELECT * FROM reusecat.db.lits WHERE l = $k").collect()
    def range(lo: Long) =
      Manifest.read(spark, root).filter(col("l").between(lo, lo + 40L))
        .count()
    // warm calls return rows: the first collected row compiles its
    // converter. Measured keys appear nowhere else in this suite and
    // fall inside both files' zone maps.
    assert(read(0L).length == 1)
    assert(compiles(assert(read(8L).isEmpty)) == 0)
    assert(sql(-1L).length == 1)
    assert(compiles(assert(sql(41L).isEmpty)) == 0)
    assert(range(-5L) == 4)
    assert(compiles(assert(range(1L) == 2)) == 0)
  }

  test("a key that prunes every file compiles nothing once a hit is warm") {
    val r = s"$warehouse/db/pruned"
    Manifest.init(spark, r, spark.range(0, 10, 1, 2).selectExpr("id AS l"))
    def read(k: Long) =
      Manifest.read(spark, r).filter(col("l") === k).collect()
    assert(read(9L).length == 1)
    // outside both files' zone maps: the scan plans no file, and the
    // same columnar shape as the hit
    assert(compiles(assert(read(1003L).isEmpty)) == 0)
  }

  test("the executed plan prints the bound literal's value") {
    val q = Manifest.read(spark, root).filter(col("l") === 123456789L)
    val plan = q.queryExecution.executedPlan
    val bound = plan.collect { case f: FilterExec =>
      f.condition.collect { case b: BoundLiteral => b } }.flatten
    assert(bound.map(_.lit.value) == Seq(123456789L), plan.toString)
    assert(plan.toString.contains("= 123456789)"), plan.toString)
  }
}
