package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.Lake

class LakeSpec extends SparkSpec {

  test("detectFileType dispatches by extension, unknown → None") {
    assert(Lake.detectFileType("a/b/data.CSV").contains("csv"))
    assert(Lake.detectFileType("x.json").contains("json"))
    assert(Lake.detectFileType("x.snappy.parquet").contains("parquet"))
    assert(Lake.detectFileType("x.ORC").contains("orc"))
    assert(Lake.detectFileType("x.txt").isEmpty)
    assert(Lake.detectFileType("x").isEmpty)
  }

  test("partitioned zone write prunes partitions at read (the K1 " +
    "layout's entire point at 100 TB)") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_part").toString
    val df = Seq((1L, "en", "a"), (2L, "en", "b"), (3L, "de", "c"))
      .toDF("id", "lang", "payload")
    Lake.writeZone(df, root, Lake.Raw, "docs", "parquet",
      partitionCols = Seq("lang"))
    val read = spark.read
      .parquet(Lake.zonePath(root, Lake.Raw, "docs"))
      .filter(col("lang") === "en")
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(lang"), plan)
    assert(read.count() == 2)
  }

  test("expirePartitions drops only failing partitions; survivors " +
    "stay readable") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_ttl").toString
    val df = Seq((1L, "2024-01-01"), (2L, "2024-02-01"), (3L, "2024-03-01"))
      .toDF("id", "dt")
    Lake.writeZone(df, root, Lake.Raw, "ev", "parquet",
      partitionCols = Seq("dt"))
    val dropped = Lake.expirePartitions(root, Lake.Raw, "ev", "dt",
      keep = _ >= "2024-02-01")
    assert(dropped == Seq("2024-01-01"))
    val left = spark.read.parquet(Lake.zonePath(root, Lake.Raw, "ev"))
      .select("id").as[Long].collect().toSet
    assert(left == Set(2L, 3L))
  }

  test("readMerged unions evolved schemas; old files read new cols " +
    "as null") {
    import org.apache.spark.sql.SaveMode
    import spark.implicits._
    val root = Files.createTempDirectory("graft_evolve").toString
    Seq((1L, "a")).toDF("id", "v")
      .write.parquet(s"$root/ds/part1")
    Seq((2L, "b", 9.5)).toDF("id", "v", "score")
      .write.mode(SaveMode.Append).parquet(s"$root/ds/part2")
    val merged = Lake.readMerged(spark, s"$root/ds/part*")
    assert(merged.columns.toSet == Set("id", "v", "score"))
    val row1 = merged.filter(col("id") === 1L).head()
    assert(row1.isNullAt(row1.fieldIndex("score")))
    assert(merged.count() == 2)
  }

  test("readJsonQuarantine splits good rows from corrupt lines") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_quarantine")
    Files.writeString(dir.resolve("mixed.json"),
      """{"id": 1, "v": "ok"}
        |not json at all {{{
        |{"id": 2, "v": "also ok"}
        |
        |{"id": "wrong-type-but-coercible-to-null", "v": "kept"}
        |""".stripMargin)
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", StringType)))
    val (good, bad) = Lake.readJsonQuarantine(spark, dir.toString, schema)
    // clean rows pass; BOTH the syntactically-broken line and the
    // type-mismatched line quarantine (any parse incident marks the
    // corrupt column); the blank line is neither
    assert(good.count() == 2)
    assert(good.filter(col("v") === "ok").count() == 1)
    val corrupt = bad.collect().map(_.getString(0)).sorted
    assert(corrupt.length == 2, corrupt.mkString("; "))
    assert(corrupt.exists(_.startsWith("not json")))
    assert(corrupt.exists(_.contains("wrong-type")))
  }

  test("sniffJsonMultiline: array-of-objects vs NDJSON") {
    val dir = Files.createTempDirectory("graft_sniff_test")
    val arr = dir.resolve("arr.json")
    Files.writeString(arr, "\n  [ {\"a\": 1}, {\"a\": 2} ]")
    val nd = dir.resolve("nd.json")
    Files.writeString(nd, "{\"a\": 1}\n{\"a\": 2}\n")
    assert(Lake.sniffJsonMultiline(arr.toString))
    assert(!Lake.sniffJsonMultiline(nd.toString))
    // Directory mode picks the first .json lexicographically (arr.json).
    assert(Lake.sniffJsonMultiline(dir.toString))
  }

  test("json read handles both encodings identically") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_json_modes")
    Files.writeString(dir.resolve("arr.json"),
      """[{"id":1,"v":"x"},{"id":2,"v":"y"}]""")
    val asArray = Lake.read(spark, dir.resolve("arr.json").toString, "json")
    assert(asArray.as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "x"), (2L, "y")))
    val dir2 = Files.createTempDirectory("graft_json_modes2")
    Files.writeString(dir2.resolve("nd.json"),
      "{\"id\":1,\"v\":\"x\"}\n{\"id\":2,\"v\":\"y\"}\n")
    val asNd = Lake.read(spark, dir2.resolve("nd.json").toString, "json")
    assert(asNd.as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "x"), (2L, "y")))
  }

  test("file:// URI root: sniff, zone roundtrip and expirePartitions " +
    "run through the Hadoop FS API (the s3a:// portability proxy)") {
    import spark.implicits._
    // A java.nio-based implementation throws on a URI-prefixed root;
    // the Hadoop FileSystem path resolves it like s3a://bucket would.
    val root = "file://" + Files.createTempDirectory("graft_uri").toString
    val df = Seq((1L, "2024-01-01", "[a]"), (2L, "2024-02-01", "b"))
      .toDF("id", "date", "payload")
    Lake.writeZone(df, root, Lake.Raw, "docs", "json",
      partitionCols = Seq("date"))
    assert(!Lake.sniffJsonMultiline(
      Lake.zonePath(root, Lake.Raw, "docs") + "/date=2024-01-01"))
    val back = Lake.read(spark,
      Lake.zonePath(root, Lake.Raw, "docs"), "json")
    assert(back.count() == 2)
    val dropped = Lake.expirePartitions(root, Lake.Raw, "docs", "date",
      keep = _ >= "2024-02-01")
    assert(dropped == Seq("2024-01-01"))
    assert(Lake.read(spark,
      Lake.zonePath(root, Lake.Raw, "docs"), "json").count() == 1)
  }

  test("nanToNull nulls every NaN float/double and is idempotent") {
    import spark.implicits._
    val df = Seq((1L, Double.NaN, 1.0f), (2L, 2.5, Float.NaN),
      (3L, 3.0, 3.0f)).toDF("id", "d", "f")
    val once = Lake.nanToNull(df)
    val rows = once.orderBy("id").collect()
    assert(rows(0).isNullAt(1) && !rows(0).isNullAt(2))
    assert(!rows(1).isNullAt(1) && rows(1).isNullAt(2))
    assert(rows(2).getDouble(1) == 3.0 && rows(2).getFloat(2) == 3.0f)
    val twice = Lake.nanToNull(once)
    assert(twice.orderBy("id").collect().toSeq ==
      once.orderBy("id").collect().toSeq)
  }

  test("writeZone/read roundtrip preserves rows per format") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val root = Files.createTempDirectory("graft_zone").toString
    for (fmt <- Seq("csv", "json", "parquet")) {
      Lake.writeZone(df, root, Lake.Processed, s"t_$fmt", fmt)
      val back = Lake.read(spark,
        Lake.zonePath(root, Lake.Processed, s"t_$fmt"), fmt)
      assert(back.count() == 3, fmt)
      assert(back.select(sum(col("k").cast("long"))).as[Long].head() == 6,
        fmt)
    }
  }
}
