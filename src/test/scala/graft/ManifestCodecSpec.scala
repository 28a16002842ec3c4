package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.sources.{Manifest, ManifestStats}
import graft.sources.connector.ManifestCatalog

/** The connector's parquet codec, pinned from the outside: every
  * in-scope column type (with NULLs) round-trips through each
  * connector write plane — SQL INSERT, UPDATE, MERGE and the native
  * streaming sink — and reads back identically through
  * `Manifest.read` and the connector; written footers store
  * timestamps as INT64 TIMESTAMP_MICROS and carry zone maps for every
  * column; reads under a pending merge-on-read delete over a
  * schema-evolved table agree with `Manifest.read`. */
class ManifestCodecSpec extends SparkSpec {
  import spark.implicits._

  private val warehouse = "file://" + java.nio.file.Files
    .createTempDirectory("graft-codec").toString
  spark.conf.set("spark.sql.catalog.codeccat",
    classOf[ManifestCatalog].getName)
  spark.conf.set("spark.sql.catalog.codeccat.root", warehouse)

  private def newRoot() = "file://" + java.nio.file.Files
    .createTempDirectory("graft-codec-t").toString + "/t"

  private val schema = StructType(Seq(
    StructField("b", BooleanType), StructField("i", IntegerType),
    StructField("l", LongType), StructField("f", FloatType),
    StructField("d", DoubleType), StructField("s", StringType),
    StructField("bin", BinaryType), StructField("dt", DateType),
    StructField("ts", TimestampType), StructField("part", StringType)))
  private val ddl = "(b BOOLEAN, i INT, l BIGINT, f FLOAT, d DOUBLE, " +
    "s STRING, bin BINARY, dt DATE, ts TIMESTAMP, part STRING) " +
    "PARTITIONED BY (part)"

  /** Row `k`: every column set (microsecond timestamps, exact floats);
    * `salt` changes the value columns but keeps the key `i`. */
  private def full(k: Int, salt: Int = 0): Row = Row(
    k % 2 == 0, k, k * 1000000007L + salt, k * 0.5f + salt,
    k * 1.25 + salt, s"s$k-$salt",
    Array[Byte](k.toByte, (k + salt).toByte, 0),
    java.sql.Date.valueOf(java.time.LocalDate.of(2026, 1, 1)
      .plusDays(k + salt)),
    java.sql.Timestamp.from(java.time.Instant
      .ofEpochSecond(1767225600L + 3600L * k, 1000L * (k + salt))),
    "p" + (k % 3))

  /** Row `k` with every value column NULL (key and partition set). */
  private def nulls(k: Int): Row =
    Row(null, k, null, null, null, null, null, null, null, "p" + (k % 3))

  private def input(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  private def norm(rows: Seq[Row]): Set[Seq[Any]] =
    rows.map(_.toSeq.map {
      case a: Array[Byte] => a.toSeq
      case x              => x
    }).toSet

  private def read(df: DataFrame): Set[Seq[Any]] =
    norm(df.select(schema.fieldNames.toSeq.map(col): _*).collect().toSeq)

  /** Both read paths return exactly `want`. */
  private def check(root: String, want: Seq[Row]): Unit = {
    assert(read(Manifest.read(spark, root)) == norm(want))
    assert(read(spark.read.format("graft-manifest").load(root)) ==
      norm(want))
  }

  /** Every data file of the latest snapshot stores `ts` as INT64
    * TIMESTAMP_MICROS, and its footer yields zone-map stats for every
    * data column (`bin` excepted: un-annotated binary has no zone-map
    * tag in [[ManifestStats]]). */
  private def checkFooters(root: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val entries = Manifest.snapshotMeta(spark, root,
      Manifest.latestVersion(spark, root).get).entries
    assert(entries.nonEmpty)
    entries.foreach { e =>
      val path = new Path(Manifest.absEntryPath(root, e.path))
      val mt = {
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(path, conf))
        try r.getFileMetaData.getSchema finally r.close()
      }
      val ts = mt.getType(mt.getFieldIndex("ts")).asPrimitiveType()
      assert(ts.getPrimitiveTypeName == PrimitiveTypeName.INT64, s"$path")
      assert(ts.getLogicalTypeAnnotation == LogicalTypeAnnotation
        .timestampType(true, LogicalTypeAnnotation.TimeUnit.MICROS),
        s"$path: ${ts.getLogicalTypeAnnotation}")
      val st = ManifestStats.fromFooter(conf, path)
        .getOrElse(fail(s"no footer stats for $path"))
      assert(st.cols.keySet == Set("b", "i", "l", "f", "d", "s", "dt",
        "ts"), s"$path: ${st.cols.keySet}")
    }
  }

  test("connector writes keep every in-scope type and NULL: SQL " +
    "INSERT, UPDATE and MERGE read back equal through both paths") {
    spark.sql(s"CREATE TABLE codeccat.db.types $ddl")
    val root = s"$warehouse/db/types"
    val nullPart = Row.fromSeq(full(9).toSeq.dropRight(1) :+ null)
    val inserted = (1 to 6).map(full(_)) ++ Seq(nulls(7), nulls(8),
      nullPart)
    input(inserted).createOrReplaceTempView("codec_ins")
    spark.sql("INSERT INTO codeccat.db.types SELECT * FROM codec_ins")
    check(root, inserted)

    spark.sql("UPDATE codeccat.db.types SET s = 'upd' WHERE i = 2")
    val updated = inserted.map(r =>
      if (r.getInt(1) == 2) Row.fromSeq(r.toSeq.updated(5, "upd")) else r)
    check(root, updated)

    val source = Seq(full(3, salt = 7), full(10), nulls(11))
    input(source).createOrReplaceTempView("codec_src")
    spark.sql("MERGE INTO codeccat.db.types t USING codec_src m " +
      "ON t.i = m.i WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT *")
    val merged = updated.filterNot(_.getInt(1) == 3) ++ source
    check(root, merged)
    checkFooters(root)
  }

  test("the native streaming sink keeps every in-scope type and NULL") {
    val src = newRoot()
    val dst = newRoot()
    val rows = (1 to 5).map(full(_)) ++ Seq(nulls(6), nulls(7))
    Manifest.init(spark, src, input(rows), Seq("part"))
    Manifest.init(spark, dst, input(Nil), Seq("part"))
    val q = spark.readStream.format("graft-manifest").load(src)
      .writeStream.format("graft-manifest")
      .option("checkpointLocation", s"${src}_ckpt")
      .trigger(Trigger.AvailableNow())
      .start(dst)
    q.awaitTermination()
    check(dst, rows)
    checkFooters(dst)
  }

  test("reads under a pending merge-on-read delete over a " +
    "schema-evolved table: full scan, projection without the key, " +
    "pushed LIMIT and count(*)") {
    val root = newRoot()
    // v1's files predate `note`
    Manifest.init(spark, root, (1L to 40L).map(i =>
      (i, "p" + (i % 2), i * 10)).toDF("id", "part", "v"), Seq("part"))
    Manifest.commitAppend(spark, root, (41L to 80L).map(i =>
      (i, "p" + (i % 2), i * 10, s"n$i")).toDF("id", "part", "v", "note"),
      Seq("part"))
    Manifest.deleteByKeys(spark, root, (1L to 80L by 3L).toDF("id"))
    // keyed on the column v1's files lack: their rows read NULL there
    // and never match a non-NULL key
    Manifest.deleteByKeys(spark, root, Seq("n44", "n50").toDF("note"))
    def rows(df: DataFrame): Seq[(Long, String, Long, Option[String])] =
      df.select("id", "part", "v", "note")
        .as[(Long, String, Long, Option[String])].collect().toSeq
    // ids ≡ 1 (mod 3) and the rows noted n44 / n50 are deleted
    val want = (1L to 80L)
      .filterNot(i => i % 3 == 1 || i == 44L || i == 50L)
      .map(i => (i, "p" + (i % 2), i * 10,
        if (i > 40) Some(s"n$i") else None))
    assert(want.size == 80 - 27 - 2)
    assert(want.count(_._4.isEmpty) == 40 - 14)
    assert(rows(Manifest.read(spark, root)).sorted == want.sorted)
    val conn = spark.read.format("graft-manifest").load(root)

    assert(rows(conn).sorted == want.sorted)
    assert(conn.select("part", "note").as[(String, Option[String])]
      .collect().toSeq.sorted == want.map(r => (r._2, r._4)).sorted)
    val capped = rows(conn.limit(5))
    assert(capped.size == 5 && capped.toSet.subsetOf(want.toSet))
    assert(rows(conn.limit(1000)).sorted == want.sorted)
    assert(conn.count() == want.size)
    assert(conn.select("part").count() == want.size)
  }
}
