package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, lit, min}
import org.apache.spark.sql.streaming.Trigger

import graft.sources.{Manifest, ManifestStats}
import graft.sources.connector.ManifestCatalog

/** What every write plane of the manifest format publishes: each new
  * data file's entry carries a decodable zone-map stats blob whose row
  * counts add up to the rows the commit wrote, and partition columns of
  * every type Spark partitions by round-trip through the file paths. */
class ManifestWriteSpec extends SparkSpec {
  import spark.implicits._

  private def newDir() = "file://" + java.nio.file.Files
    .createTempDirectory("graft-write").toString

  /** Entries of the head snapshot that the previous one lacks. */
  private def newEntries(root: String): Seq[Manifest.FileEntry] = {
    val v = Manifest.latestVersion(spark, root).get
    val before =
      if (v == 1L) Set.empty[String]
      else Manifest.snapshotMeta(spark, root, v - 1).files.toSet
    Manifest.snapshotMeta(spark, root, v).entries
      .filterNot(e => before(e.path))
  }

  /** Every new entry decodes; their row counts sum to `rows`. Returns
    * the number of new files. */
  private def checkStats(plane: String, root: String, rows: Long): Int = {
    val fresh = newEntries(root)
    assert(fresh.nonEmpty, s"$plane: no new file entry")
    val decoded = fresh.map(e => e.path -> e.stats.flatMap(ManifestStats.decode))
    val missing = decoded.collect { case (p, None) => p }
    assert(missing.isEmpty, s"$plane: entries without stats: $missing")
    assert(decoded.flatMap(_._2).map(_.rows).sum == rows,
      s"$plane: stats row counts do not add up to $rows")
    fresh.size
  }

  test("every commit plane publishes stats on every new file entry") {
    val warehouse = newDir()
    val root = s"$warehouse/db/t"
    def rows(lo: Long, hi: Long, tasks: Int) = spark.range(lo, hi, 1, tasks)
      .selectExpr("id", "concat('p', id % 3) AS part", "id * 2 AS v")
    Manifest.init(spark, root, rows(0, 30, 2), Seq("part"))
    checkStats("init", root, 30)
    Manifest.commitAppend(spark, root, rows(30, 60, 2), Seq("part"))
    checkStats("commitAppend", root, 30)
    // 65 tasks of two rows each: a commit of at least 65 files
    Manifest.commitAppend(spark, root, rows(60, 190, 65), Seq("part"))
    assert(checkStats("commitAppend, 65 tasks", root, 130) >= 65)

    val live = Manifest.snapshotMeta(spark, root,
      Manifest.latestVersion(spark, root).get).entries
    Manifest.compact(spark, root)
    val compacted = live.map(_.path).toSet --
      Manifest.snapshotMeta(spark, root,
        Manifest.latestVersion(spark, root).get).files
    assert(compacted.nonEmpty)
    checkStats("compact", root, live.filter(e => compacted(e.path))
      .map(_.fileStats.get.rows).sum)

    spark.conf.set("spark.sql.catalog.wplanes",
      classOf[ManifestCatalog].getName)
    spark.conf.set("spark.sql.catalog.wplanes.root", warehouse)
    spark.sql("INSERT INTO wplanes.db.t VALUES " +
      "(1000, 'p0', 1), (1001, 'p1', 2), (1002, 'p2', 3)")
    checkStats("connector INSERT", root, 3)

    val src = s"$warehouse/src"
    Manifest.init(spark, src, Seq((2000L, "p0", 5L), (2001L, "p1", 6L))
      .toDF("id", "part", "v"), Seq("part"))
    val q = spark.readStream.format("graft-manifest").load(src)
      .select("id", "part", "v")
      .writeStream.format("graft-manifest")
      .option("checkpointLocation", s"$warehouse/ckpt")
      .trigger(Trigger.AvailableNow())
      .start(root)
    q.awaitTermination()
    checkStats("streaming sink epoch", root, 2)

    val p1 = Manifest.read(spark, root, None).filter("part = 'p1'").count()
    spark.sql("UPDATE wplanes.db.t SET v = v + 1 WHERE part = 'p1'")
    checkStats("SQL UPDATE", root, p1)
  }

  // both readers; the connector consumes pushed partition filters (never
  // re-checks them), so they must match the written path strings exactly,
  // whole-second timestamps included
  test("DATE and TIMESTAMP partitions round-trip init, append, read") {
    val base = spark.range(0, 12, 1, 2).selectExpr("id",
      "date_add(DATE'2024-02-28', CAST(id % 3 AS INT)) AS d",
      "timestamp_micros(1700000000000000L + (id % 3) * 3600000123L) AS ts")
    for (part <- Seq("d", "ts")) {
      val root = newDir() + "/t"
      Manifest.init(spark, root, base.filter("id < 6"), Seq(part))
      Manifest.commitAppend(spark, root, base.filter("id >= 6"), Seq(part))
      val conn = spark.read.format("graft-manifest").load(root)
      conn.createOrReplaceTempView("dt_parts")
      for (read <- Seq(Manifest.read(spark, root, None), conn)) {
        assert(read.schema(part).dataType == base.schema(part).dataType)
        assert(read.select("id", "d", "ts").collect().toSet ==
          base.collect().toSet, s"partitioned by $part")
        for (Row(v, id: Long) <- base.groupBy(part).agg(min("id")).collect())
          assert(read.filter(col(part) === lit(v)).count() == 4L,
            s"$part = $v (the value of id $id)")
      }
      // through SQL, the value arriving as a runtime filter
      for (id <- 0L to 2L)
        assert(spark.sql(s"SELECT count(*) FROM dt_parts WHERE $part IN " +
          s"(SELECT $part FROM dt_parts WHERE id = $id)").head.getLong(0) ==
          4L, s"$part IN (the value of id $id)")
    }
  }

  /** A fresh table `db.t` under a fresh warehouse, named `<cat>.db.t`
    * through a [[ManifestCatalog]]; returns its root. */
  private def catalogTable(cat: String): String = {
    val warehouse = newDir()
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[ManifestCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", warehouse)
    s"$warehouse/db/t"
  }

  // DELETE and MERGE rewrite the partitions they touch and drop those
  // partitions' old files by matching the touched values against the
  // file paths: a whole-second timestamp must match the path the
  // writer formatted, or the old files survive beside their rewrite.
  // SQL UPDATE and MERGE find their groups through Spark's runtime
  // group filter, whose values must match the paths the same way
  test("DML on DATE and TIMESTAMP partitions replaces the touched partition") {
    def rows(lo: Long, hi: Long) = spark.range(lo, hi, 1, 2).selectExpr("id",
      "date_add(DATE'2024-02-28', CAST(id % 3 AS INT)) AS d",
      "timestamp_seconds(1700000000L + (id % 3) * 3600L) AS ts",
      "CAST(id % 3 AS INT) AS i", "id % 2 = 0 AS b",
      "CAST(id % 3 AS DECIMAL(10, 2)) AS dec", "id AS v")
    val base = rows(0, 12)
    for (part <- Seq("d", "ts", "i", "b", "dec")) {
      // one catalog per table: a session caches a catalog by name
      val cat = s"dtdml_$part"
      val root = catalogTable(cat)
      Manifest.init(spark, root, base, Seq(part))
      def check(what: String, want: Set[(Long, Long)]): Unit =
        for (read <- Seq(Manifest.read(spark, root, None),
                         spark.read.format("graft-manifest").load(root))) {
          val got = read.select("id", "v").as[(Long, Long)].collect()
          assert(got.length == want.size && got.toSet == want,
            s"$what, partitioned by $part: ${got.sorted.mkString(" ")}")
        }
      val all = (0L until 12L).map(i => i -> i)
      spark.sql(s"DELETE FROM $cat.db.t WHERE id = 0")
      check("SQL DELETE", all.filter(_._1 != 0L).toSet)
      val updates = base.filter("id IN (1, 2)").selectExpr("id", "d", "ts",
        "i", "b", "dec", "v + 100 AS v")
      Manifest.mergeInto(spark, root, updates, "id", Seq(part))
      val merged = all.filter(_._1 != 0L).map {
        case (i, v) => i -> (if (i <= 2L) v + 100 else v) }
      check("mergeInto", merged.toSet)
      spark.sql(s"UPDATE $cat.db.t SET v = v + 100 WHERE id = 3")
      val updated = merged.map {
        case (i, v) => i -> (if (i == 3L) v + 100 else v) }
      check("SQL UPDATE", updated.toSet)
      base.filter("id IN (4, 5)").union(rows(12, 13))
        .createOrReplaceTempView("dml_src")
      spark.sql(s"""MERGE INTO $cat.db.t t USING dml_src s ON t.id = s.id
        |WHEN MATCHED AND s.id = 5 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET v = t.v + 1000
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      check("SQL MERGE", (updated.filter(_._1 != 5L).map {
        case (i, v) => i -> (if (i == 4L) v + 1000 else v) } :+
        (12L -> 12L)).toSet)
    }
  }

  // Spark's partitionBy rule, which every write plane follows: an empty
  // string partition value is written to __HIVE_DEFAULT_PARTITION__ and
  // reads back as NULL through both readers and their partition filters
  test("an empty-string partition value is written as, and reads back as, NULL") {
    val root = catalogTable("emptypart")
    Manifest.init(spark, root,
      Seq((1L, "a"), (2L, null)).toDF("id", "part"), Seq("part"))
    spark.sql("INSERT INTO emptypart.db.t VALUES (3, '')")
    Manifest.commitAppend(spark, root, Seq((4L, "")).toDF("id", "part"),
      Seq("part"))
    assert(Manifest.snapshotMeta(spark, root,
      Manifest.latestVersion(spark, root).get).files
      .forall(p => !p.contains("part=/")))
    def readers() = Seq(Manifest.read(spark, root, None),
      spark.read.format("graft-manifest").load(root))
    for (read <- readers()) {
      assert(read.filter("part IS NULL").select("id").as[Long].collect()
        .toSet == Set(2L, 3L, 4L))
      assert(read.filter("part = ''").count() == 0L)
    }
    assert(spark.sql("SELECT id FROM emptypart.db.t WHERE part IS NULL")
      .as[Long].collect().toSet == Set(2L, 3L, 4L))
    assert(spark.sql("SELECT count(*) FROM emptypart.db.t WHERE part = ''")
      .head.getLong(0) == 0L)
    // the touched-partition match agrees with the typed semi-join, in
    // which '' never equals NULL: an update of '' (written as NULL)
    // leaves the NULL partition's rows in place, and a DELETE there
    // rewrites that partition once
    Manifest.mergeInto(spark, root, Seq((5L, "")).toDF("id", "part"), "id",
      Seq("part"))
    spark.sql("DELETE FROM emptypart.db.t WHERE id = 2")
    for (read <- readers())
      assert(read.select("id").as[Long].collect().sorted.toSeq ==
        Seq(1L, 3L, 4L, 5L))
  }
}
