package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.sources.{Manifest, ManifestBlooms}
import graft.sources.connector.{ManifestCatalog, ManifestConnector, ManifestScan}

/** The DataSourceV2 read contract of `format("graft-manifest")`:
  * result equality with Manifest.read, manifest-level partition
  * pruning (files never planned), column pruning, parquet filter
  * pushdown as pure IO-skip, time travel, schema evolution NULLs,
  * count(*) footer fast path and pruned-size statistics. */
class ManifestConnectorSpec extends SparkSpec {
  import spark.implicits._

  private def newRoot() = "file://" + java.nio.file.Files
    .createTempDirectory("graft-conn").toString + "/t"

  /** Three-commit fixture partitioned by `part`: evens, odds, then a
    * merge bumping ids divisible by 5. */
  private def fixture(): String = {
    val root = newRoot()
    val df = (1L to 200L).map(i =>
      (i, "p" + (i % 4), s"doc $i text", i * 10))
      .toDF("id", "part", "text", "score")
    Manifest.init(spark, root, df.filter($"id" % 2 === 0), Seq("part"))
    Manifest.commitAppend(spark, root, df.filter($"id" % 2 === 1),
      Seq("part"))
    Manifest.mergeInto(spark, root,
      df.filter($"id" % 5 === 0).withColumn("score", $"score" + 1000L),
      "id", "part")
    root
  }

  /** [[fixture]]'s rows at version `v` as (id, part, text, score). */
  private def fixtureRows(v: Long): Seq[(Long, String, String, Long)] =
    (1L to 200L).filter(i => v > 1 || i % 2 == 0).map(i =>
      (i, "p" + (i % 4), s"doc $i text",
        i * 10 + (if (v >= 3 && i % 5 == 0) 1000L else 0L)))

  private def connRead(root: String, version: Option[Long] = None)
      : DataFrame = {
    val r = spark.read.format("graft-manifest")
    version.fold(r)(v => r.option("version", v.toString)).load(root)
  }

  private def scanOf(df: DataFrame): ManifestScan = {
    def find(p: SparkPlan): Option[ManifestScan] = p match {
      case a: AdaptiveSparkPlanExec => find(a.initialPlan)
      case b: BatchScanExec if b.scan.isInstanceOf[ManifestScan] =>
        Some(b.scan.asInstanceOf[ManifestScan])
      case other => other.children.iterator.flatMap(find).nextOption()
    }
    find(df.queryExecution.executedPlan)
      .getOrElse(fail("no ManifestScan in plan:\n" +
        df.queryExecution.executedPlan))
  }

  test("connector read ≡ Manifest.read at every version (incl. merge)") {
    val root = fixture()
    for (v <- 1L to 3L) {
      val direct = Manifest.read(spark, root, Some(v))
        .select("id", "part", "text", "score")
        .as[(Long, String, String, Long)].collect().toSet
      val conn = connRead(root, Some(v))
        .select($"id", $"part", $"text", $"score")
        .as[(Long, String, String, Long)].collect().toSet
      assert(direct == fixtureRows(v).toSet, s"version $v: Manifest.read")
      assert(conn == direct, s"version $v mismatch")
    }
    // default = latest
    assert(connRead(root).count() == 200L)
    assert(Manifest.read(spark, root).count() == 200L)
  }

  test("partition filter prunes files at the manifest (never planned)") {
    val root = fixture()
    val all = scanOf(connRead(root).select($"id"))
    val pruned = scanOf(
      connRead(root).filter($"part" === "p1").select($"id"))
    assert(pruned.plannedFiles.nonEmpty)
    assert(pruned.plannedFiles.length < all.plannedFiles.length)
    assert(pruned.plannedFiles.forall(_.absPath.contains("part=p1/")))
    // and the result is still exactly right
    val got = connRead(root).filter($"part" === "p1")
      .agg(count(lit(1)), sum($"id")).as[(Long, Long)].collect().head
    val p1 = fixtureRows(3).filter(_._2 == "p1")
    assert(got == ((p1.size.toLong, p1.map(_._1).sum)))
    // IN-list + conjunction prune too
    val in2 = scanOf(connRead(root)
      .filter($"part".isin("p1", "p2") && $"score" > 50L).select($"id"))
    assert(in2.plannedFiles.forall(f =>
      f.absPath.contains("part=p1/") || f.absPath.contains("part=p2/")))
  }

  test("column pruning reaches the scan schema; data filters are " +
    "pushed AND kept as residuals") {
    val root = fixture()
    val df = connRead(root).filter($"score" > 500L).select($"id")
    val scan = scanOf(df)
    // required schema: id + score (residual filter input), never text
    val cols = scan.readSchema().fieldNames.toSet
    assert(cols.contains("id") && !cols.contains("text"), cols)
    assert(scan.description().contains("GreaterThan(score,500)"),
      scan.description())
    // pushdown is IO-skip only: results match the un-pushed plan
    val want = fixtureRows(3).filter(_._4 > 500L).map(_._1).sorted
    assert(df.as[Long].collect().sorted.toSeq == want)
  }

  test("string equality pushdown + row-group skip stays correct") {
    val root = fixture()
    val got = connRead(root).filter($"text" === "doc 7 text")
      .select($"id").as[Long].collect().toSeq
    assert(got == Seq(7L))
  }

  test("schema evolution: columns added by later commits read NULL " +
    "from older files through the connector") {
    val root = newRoot()
    Manifest.init(spark, root,
      Seq((1L, "a", 10L)).toDF("id", "part", "v"), Seq("part"))
    Manifest.commitAppend(spark, root,
      Seq((2L, "b", 20L, "fresh")).toDF("id", "part", "v", "note"),
      Seq("part"))
    val rows = connRead(root).select($"id", $"v", $"note")
      .as[(Long, Long, Option[String])].collect().toSet
    assert(rows == Set((1L, 10L, None), (2L, 20L, Some("fresh"))))
  }

  test("count(*) plans the footer fast path (no data columns) and " +
    "statistics report pruned bytes") {
    val root = fixture()
    val cnt = connRead(root).groupBy($"part").count()
      .as[(String, Long)].collect().toMap
    val want = fixtureRows(3).groupBy(_._2)
      .map { case (p, rs) => p -> rs.size.toLong }
    assert(cnt == want)
    // statistics shrink under partition pruning
    val all = scanOf(connRead(root).select($"id"))
    val pruned = scanOf(connRead(root)
      .filter($"part" === "p1").select($"id"))
    assert(pruned.estimateStatistics().sizeInBytes.getAsLong <
      all.estimateStatistics().sizeInBytes.getAsLong)
    // ...and row counts are EXACT (manifest zone-map rows), not
    // byte-derived guesses
    val total = 200L
    val p1 = fixtureRows(3).count(_._2 == "p1").toLong
    assert(all.estimateStatistics().numRows.getAsLong == total)
    assert(pruned.estimateStatistics().numRows.getAsLong == p1)
  }

  test("a pruned connector scan under a join flips to broadcast from " +
    "its post-pruning statistics") {
    val root = newRoot()
    // one small partition, one much larger one: the pruned scan's
    // surviving bytes fit the broadcast threshold; the full scan's
    // do not
    val small = (1 to 10).map(i => (i.toLong, "s", s"v$i"))
    val big = (1 to 20000).map(i =>
      (i.toLong + 100, "b", ("x" * 64) + i))
    Manifest.init(spark, root,
      (small ++ big).toDF("id", "part", "text"), Seq("part"))
    // probe side sits ABOVE the broadcast threshold, so the only
    // broadcastable side is the (pruned) connector scan
    val probe = spark.range(20000).select($"id", ($"id" * 2).as("w"))
    def joinPlan(pruned: Boolean): String = {
      val scan = if (pruned)
        connRead(root).filter($"part" === "s") else connRead(root)
      probe.join(scan, "id").queryExecution.executedPlan.toString
    }
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "65536")
      val prunedPlan = joinPlan(pruned = true)
      assert(prunedPlan.contains("BroadcastHashJoin") &&
        prunedPlan.contains("BuildRight"),
        s"pruned scan (small surviving bytes) must broadcast:\n$prunedPlan")
      assert(!joinPlan(pruned = false).contains("BroadcastHashJoin"),
        "with both sides above the threshold nothing may broadcast")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }

  test("connector scans decode vectorized: columnar batches behind a " +
    "ColumnarToRow boundary") {
    val root = fixture()
    val df = connRead(root).filter($"score" > 100L).select($"id", $"text")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"), plan.take(1500))
    // vectorized result ≡ row-path ground truth
    assert(df.as[(Long, String)].collect().toSet ==
      fixtureRows(3).filter(_._4 > 100L).map(r => (r._1, r._3)).toSet)
  }

  test("limit pushdown caps reader output, global result exact") {
    val root = fixture()
    val got = connRead(root).select($"id").limit(7).collect()
    assert(got.length == 7)
  }

  test("manifest zone map skips files at the connector: skipped files " +
    "never reach plannedFiles; results stay exact") {
    val root = newRoot()
    val df = (1L to 100L).map(i => (i, i * 10, s"u${"%03d".format(i)}"))
      .toDF("id", "score", "name").repartitionByRange(4, $"id")
    Manifest.init(spark, root, df)
    val all = scanOf(connRead(root).select($"id"))
    assert(all.plannedFiles.length == 4)
    // numeric equality outside 3 of the 4 range files
    val eq = scanOf(connRead(root).filter($"score" === 250L).select($"id"))
    assert(eq.plannedFiles.length == 1, eq.description())
    assert(connRead(root).filter($"score" === 250L)
      .select($"id").as[Long].collect().toSeq == Seq(25L))
    // string range bounds skip too (byte-order min/max)
    val str = scanOf(connRead(root).filter($"name" > "u090").select($"id"))
    assert(str.plannedFiles.length < 4, str.description())
    assert(connRead(root).filter($"name" > "u090").count() == 10L)
    // stats survive a merge's carry-forward by reference
    Manifest.init(spark, newRoot(), df) // unrelated table, keep root clean
    val range = scanOf(connRead(root)
      .filter($"score" >= 990L && $"score" <= 1000L).select($"id"))
    assert(range.plannedFiles.length == 1, range.description())
  }

  test("NULL partitions under Not/In/IsNull follow SQL three-valued " +
    "logic (partition filters are consumed, so pruning must be exact)") {
    val root = newRoot()
    Manifest.init(spark, root,
      Seq((1L, Option("a"), 10L), (2L, Option("b"), 20L),
        (3L, Option.empty[String], 30L))
        .toDF("id", "part", "v"),
      Seq("part"))
    def ids(df: DataFrame) = df.select($"id").as[Long].collect().toSet
    // NULL != 'a' is unknown → the null-partition row must NOT appear.
    // =!= alone compiles to Not(EqualTo) only when the optimizer does
    // not inject IsNotNull; assert against the SQL answer either way.
    assert(ids(connRead(root).filter($"part" =!= "a")) == Set(2L))
    assert(ids(connRead(root).filter(!$"part".isin("a", "b"))) ==
      Set.empty[Long])
    assert(ids(connRead(root).filter($"part".isNull)) == Set(3L))
    assert(ids(connRead(root).filter(!$"part".isNull)) == Set(1L, 2L))
    assert(ids(connRead(root).filter($"part" <=> null)) == Set(3L))
    // and Manifest.read gives the same SQL answers
    for ((cond, want) <- Seq(($"part" =!= "a") -> Set(2L),
        $"part".isNull -> Set(3L), !$"part".isNull -> Set(1L, 2L)))
      assert(ids(Manifest.read(spark, root).filter(cond)) == want)
  }

  /** Three single-file commits partitioned by `part` ('a', 'b', NULL)
    * whose `key`s are striped (key % 3 picks the file), so every file's
    * zone map spans nearly [0, 59] and only a bloom sidecar on `key`
    * can prune an equality probe. */
  private def stripedBloomTable(root: String): Unit = {
    val parts = Seq(Option("a"), Option("b"), Option.empty[String])
    def stripe(k: Int) = (0L until 60L).filter(_ % 3 == k)
      .map(i => (i, parts(k), i * 10)).toDF("key", "part", "v").coalesce(1)
    Manifest.init(spark, root, stripe(0), Seq("part"))
    for (k <- 1 to 2) Manifest.commitAppend(spark, root, stripe(k), Seq("part"))
    ManifestBlooms.build(spark, root, Seq("key"))
  }

  test("keepFiles: read polarity needs TRUE, group polarity drops only " +
    "on FALSE; zone maps and blooms prune under both") {
    import org.apache.spark.sql.sources._
    val root = newRoot()
    stripedBloomTable(root)
    val res = ManifestConnector.resolve(spark, Map("path" -> root))
    // the partition value of each kept file; runs no Spark job
    def kept(f: Filter, group: Boolean): Set[Option[String]] =
      ManifestConnector.keepFiles(res, res.files, Seq(f), group)
        .map(fi => Option(fi.partValues.toMap.apply("part"))).toSet
    val (a, b, nul) = (Option("a"), Option("b"), Option.empty[String])
    def both(f: Filter, read: Set[Option[String]],
             group: Set[Option[String]]): Unit = {
      assert(kept(f, group = false) == read, s"read $f")
      assert(kept(f, group = true) == group, s"group $f")
    }
    // NULL <> 'a' is UNKNOWN: a read drops the default partition, a
    // group keeps it
    both(Not(EqualTo("part", "a")), Set(b), Set(b, nul))
    // a miss against an IN list holding NULL is UNKNOWN too
    both(In("part", Array("a", null)), Set(a), Set(a, b, nul))
    // partition and data columns in one filter: kept, whatever it says
    both(Or(EqualTo("part", "zzz"), EqualTo("key", 1000L)),
      Set(a, b, nul), Set(a, b, nul))
    // outside every zone map
    both(EqualTo("key", 1000L), Set.empty, Set.empty)
    // inside every zone map; only the 'b' file's bloom holds key 4
    both(EqualTo("key", 4L), Set(b), Set(b))
  }

  test("SQL UPDATE on a bloom-covered key rewrites only the file that " +
    "holds it") {
    import org.apache.spark.sql.catalyst.plans.logical.CommandResult
    val warehouse = newRoot()
    spark.conf.set("spark.sql.catalog.bloomdml",
      classOf[ManifestCatalog].getName)
    spark.conf.set("spark.sql.catalog.bloomdml.root", warehouse)
    val root = s"$warehouse/db/t"
    stripedBloomTable(root)
    val cmd = spark.sql("UPDATE bloomdml.db.t SET v = v + 1 WHERE key = 4")
      .queryExecution.commandExecuted match {
        case c: CommandResult => c.commandPhysicalPlan
        case other => fail(s"not a command: $other")
      }
    val groups = ScanFiles.collectWithSubqueries(cmd) {
      case b: BatchScanExec => b.scan.description()
    }.filter(_.contains(" CoW "))
    assert(groups.nonEmpty && groups.forall(_.endsWith("groups=1/3")),
      groups.mkString("\n"))
    assert(connRead(root).select("key", "v").as[(Long, Long)].collect()
      .sorted.toSeq == (0L until 60L).map(i =>
        i -> (i * 10 + (if (i == 4L) 1L else 0L))))
  }

  test("layout mismatch fails loudly: at commit time for well-behaved " +
    "writers, at resolve time for forged/legacy manifests") {
    val root = newRoot()
    Manifest.init(spark, root,
      Seq((1L, "a", 10L)).toDF("id", "part", "v"), Seq("part"))
    // a well-behaved append with a different layout is refused upfront
    val commitErr = intercept[IllegalArgumentException] {
      Manifest.commitAppend(spark, root,
        Seq((2L, "b", 20L)).toDF("id", "part", "v"), Nil)
    }
    assert(commitErr.getMessage.contains("partition layout mismatch"),
      commitErr.getMessage)
    // forge the mixed state a foreign writer could produce: unpartitioned
    // files published alongside the partitioned commit, under the
    // snapshot's own headers — older files' partValues would silently
    // miss every `part` filter if this resolved
    Seq((2L, "b", 20L)).toDF("id", "part", "v")
      .write.parquet(s"$root/data/c00000002-forged")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootUri = fs.makeQualified(new org.apache.hadoop.fs.Path(root))
      .toUri.getPath
    val it = fs.listFiles(
      new org.apache.hadoop.fs.Path(s"$root/data/c00000002-forged"), true)
    val forged = scala.collection.mutable.ArrayBuffer
      .empty[graft.sources.Manifest.FileEntry]
    while (it.hasNext) {
      val st = it.next()
      if (st.getPath.getName.endsWith(".parquet"))
        forged += graft.sources.Manifest.FileEntry(
          st.getPath.toUri.getPath.stripPrefix(rootUri).stripPrefix("/"),
          st.getLen)
    }
    val prev = Manifest.snapshotMeta(spark, root, 1L)
    Manifest.publish(spark, root, 1L, prev.entries ++ forged.toSeq,
      prev.meta)
    val e = intercept[Exception](connRead(root).schema)
    assert(e.getMessage.contains("mixed partition layouts"), e.getMessage)
  }

  // merge-on-read deletes and SQL INSERT over array/map columns read
  // back the same rows through the connector and Manifest.read
  test("nested array/map columns round-trip through the connector") {
    val warehouse = newRoot()
    val root = s"$warehouse/db/nested"
    Manifest.init(spark, root, (1L to 30L).map(i =>
      (i, "p" + (i % 3), Seq(i * 0.5, i * 1.5), Map(s"k$i" -> i)))
      .toDF("id", "part", "xs", "m"), Seq("part"))
    def rows(df: DataFrame) = df.select("id", "part", "xs", "m")
      .as[(Long, String, Seq[Double], Map[String, Long])].collect().toSet
    var want = (1L to 30L).map(i =>
      (i, "p" + (i % 3), Seq(i * 0.5, i * 1.5), Map(s"k$i" -> i))).toSet
    def same(): Unit = {
      assert(rows(connRead(root)) == want)
      assert(rows(Manifest.read(spark, root)) == want)
    }
    same()
    Manifest.deleteByKeys(spark, root, Seq(2L, 7L).toDF("id"))
    want = want.filterNot(r => r._1 == 2L || r._1 == 7L)
    same()
    assert(connRead(root).count() == 28L)

    spark.conf.set("spark.sql.catalog.nestcat",
      classOf[graft.sources.connector.ManifestCatalog].getName)
    spark.conf.set("spark.sql.catalog.nestcat.root", warehouse)
    spark.sql("INSERT INTO nestcat.db.nested SELECT 100L, 'p1', " +
      "array(1.0D, 2.0D), map('z', 9L)")
    want += ((100L, "p1", Seq(1.0, 2.0), Map("z" -> 9L)))
    same()
    assert(connRead(root).count() == 29L)
  }

  test("merge-on-read deletes apply through the connector: full scans, " +
    "pruned projections, count(*), and reinserted keys") {
    val root = fixture()
    // delete a spread of ids (data-column key) — no data file rewritten
    val before = Manifest.snapshot(spark, root, 3L).files.toSet
    Manifest.deleteByKeys(spark, root,
      (1L to 200L by 7L).toDF("id"))
    assert(Manifest.snapshot(spark, root, 4L).files.toSet == before)
    // reinsert two deleted keys — newer than the delete, must survive
    Manifest.commitAppend(spark, root,
      Seq((8L, "p0", "resurrected", 0L), (15L, "p3", "resurrected", 0L))
        .toDF("id", "part", "text", "score"), Seq("part"))
    val deleted = (1L to 200L by 7L).toSet
    val want = fixtureRows(3).filterNot(r => deleted(r._1)).toSet ++
      Set((8L, "p0", "resurrected", 0L), (15L, "p3", "resurrected", 0L))
    assert(Manifest.read(spark, root).select("id", "part", "text", "score")
      .as[(Long, String, String, Long)].collect().toSet == want)
    val got = connRead(root).select("id", "part", "text", "score")
      .as[(Long, String, String, Long)].collect().toSet
    assert(got == want)
    assert(got.exists(_._3 == "resurrected"))
    assert(!got.exists(r => r._1 % 7 == 1 && r._3 != "resurrected"
      && (1L to 200L by 7L).contains(r._1)))
    // projection WITHOUT the key column still filters on it
    assert(connRead(root).select("part").count() == want.size)
    // count(*) — footer counts are not trusted under deletes
    assert(connRead(root).count() == want.size)
    // statistics: bytes stay (upper bound), exact row count withdrawn
    val sc = scanOf(connRead(root).select($"id"))
    assert(sc.estimateStatistics().sizeInBytes.isPresent)
    assert(!sc.estimateStatistics().numRows.isPresent)
  }

  test("merge-on-read delete keyed on the PARTITION column erases " +
    "whole partitions through the count fast path") {
    val root = newRoot()
    Manifest.init(spark, root,
      Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "part"),
      Seq("part"))
    Manifest.deleteByKeys(spark, root, Seq("a").toDF("part"))
    // no data columns requested → constant-key fast path per file
    assert(connRead(root).count() == 1L)
    assert(connRead(root).select("id", "part").as[(Long, String)]
      .collect().toSet == Set((3L, "b")))
    // a later append into the deleted partition is exempt
    Manifest.commitAppend(spark, root,
      Seq((9L, "a")).toDF("id", "part"), Seq("part"))
    assert(connRead(root).as[(Long, String)].collect().toSet ==
      Set((3L, "b"), (9L, "a")))
  }

  test("storage-partitioned join: co-partitioned manifest tables " +
    "join with ZERO shuffles when v2 bucketing is on") {
    val rootA = newRoot(); val rootB = newRoot()
    Manifest.init(spark, rootA,
      (1L to 100L).map(i => (i, "p" + (i % 4), i * 2))
        .toDF("id", "part", "va"), Seq("part"))
    Manifest.init(spark, rootB,
      (1L to 100L).map(i => (i, "p" + (i % 4), i * 3))
        .toDF("idb", "part", "vb"), Seq("part"))
    val saved = Seq(
      "spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set(
        "spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = connRead(rootA).join(connRead(rootB), Seq("part"))
      assert(j.count() == 2500L) // 25 × 25 per partition × 4
      j.collect()
      val plan = j.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case other                    => other
      }
      val shuffles = plan.collect {
        case e: org.apache.spark.sql.execution.exchange
          .ShuffleExchangeExec => e
      }
      assert(shuffles.isEmpty,
        s"co-partitioned join must not shuffle:\n$plan")
      // correctness against the ordinary (shuffling) plan
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      assert(j.count() ==
        connRead(rootA).join(connRead(rootB), Seq("part")).count())
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** numOutputRows of the scan leaf AFTER executing `df` (pushdown
    * plans are non-adaptive scan+project; fallbacks shuffle and need
    * the final AQE plan for live metrics). */
  private def scanRows(df: DataFrame): Long = {
    df.collect()
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other                    => other
    }
    plan.collectLeaves()
      .flatMap(_.metrics.get("numOutputRows")).map(_.value).sum
  }

  test("aggregate pushdown: count/min/max answered from zone maps — " +
    "one scan row, zero file IO; unsafe shapes fall back correctly") {
    val root = fixture() // 200 rows over 3 commits, partitioned
    val agg = connRead(root)
      .agg(count(lit(1)).as("n"), min($"score").as("lo"),
        max($"score").as("hi"), count($"score").as("n_score"))
    assert(agg.as[(Long, Long, Long, Long)].head ==
      ((200L, 10L, 3000L, 200L))) // 3000: the merge bumped id=200
    // ONE row left the scan: the aggregate never touched a data page
    assert(scanRows(agg) == 1L,
      "aggregate was not answered from manifest stats")
    // partition filters compose: pruned files drop out of the stats sum
    val p1 = connRead(root).filter($"part" === "p1")
      .agg(count(lit(1)).as("n"), min($"id").as("lo"))
    assert(p1.as[(Long, Long)].head == ((50L, 1L)))
    assert(scanRows(p1) == 1L)
    // a residual data filter makes stats unanswerable → full fallback
    val filtered = connRead(root).filter($"score" > 500L)
      .agg(count(lit(1)).as("n"))
    assert(filtered.as[Long].head ==
      fixtureRows(3).count(_._4 > 500L))
    // the scan is NOT in aggregate mode: it reads the data column
    assert(scanOf(filtered).readSchema().fieldNames.contains("score"))
    // distinct counts and string min/max fall back
    val distinctN = connRead(root).agg(countDistinct($"part").as("n"))
    assert(distinctN.as[Long].head == 4L)
    val strMin = connRead(root).agg(min($"text").as("lo"))
    assert(strMin.as[String].head == fixtureRows(3).map(_._3).min)
    // NULLs: count(col) subtracts them; an all-NULL file contributes
    // nothing to min/max but its rows to count(*)
    val root2 = newRoot()
    Manifest.init(spark, root2,
      Seq[(java.lang.Long, String)]((null, "x"), (null, "y"))
        .toDF("v", "s"))
    Manifest.commitAppend(spark, root2,
      Seq[(java.lang.Long, String)]((5L, "z"), (7L, "w"), (null, "q"))
        .toDF("v", "s"))
    val nullAgg = spark.read.format("graft-manifest").load(root2)
      .agg(count(lit(1)).as("n"), count($"v").as("nv"),
        min($"v").as("lo"), max($"v").as("hi"))
    assert(nullAgg.as[(Long, Long, Option[Long], Option[Long])].head ==
      ((5L, 2L, Some(5L), Some(7L))))
    assert(scanRows(nullAgg) == 1L)
    // pending merge-on-read deletes poison footer counts → fallback
    Manifest.deleteByKeys(spark, root2, Seq("z").toDF("s"))
    val afterDel = spark.read.format("graft-manifest").load(root2)
      .agg(count(lit(1)).as("n"), max($"v").as("hi"))
    assert(afterDel.as[(Long, Option[Long])].head == ((4L, Some(7L))))
  }

  test("batch CDC through the connector: option(cdc, changesFrom) " +
    "equals Manifest.readChangesCdc, retraction keys included") {
    val root = newRoot()
    Manifest.init(spark, root,
      Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "part", "v"),
      Seq("part"))                                             // v1
    Manifest.commitAppend(spark, root,
      Seq((3L, "c", 30)).toDF("id", "part", "v"), Seq("part")) // v2
    Manifest.deleteByKeys(spark, root, Seq(1L, 3L).toDF("id")) // v3
    type Row5 = (Option[Long], Option[String], Option[Int], String, Long)
    def rows(df: org.apache.spark.sql.DataFrame): Set[Row5] =
      df.select("id", "part", "v", "_change_type", "_commit_version")
        .as[Row5](org.apache.spark.sql.Encoders.product[
          (Option[Long], Option[String], Option[Int], String, Long)])
        .collect().toSet
    val conn = rows(spark.read.format("graft-manifest")
      .option("cdc", "true").option("changesFrom", "1").load(root))
    assert(conn == rows(Manifest.readChangesCdc(spark, root, 1L)))
    assert(conn == Set(
      (Some(3L), Some("c"), Some(30), "insert", 2L),
      (Some(1L), None, None, "delete", 3L),
      (Some(3L), None, None, "delete", 3L)))
    // from 0 = full replay as CDC; cdc without changesFrom is refused
    assert(rows(spark.read.format("graft-manifest")
      .option("cdc", "true").option("changesFrom", "0").load(root))
      .count(_._4 == "insert") == 3)
    intercept[Exception](spark.read.format("graft-manifest")
      .option("cdc", "true").load(root).collect())
  }

  test("metadata columns: _file / _commit_version are selectable " +
    "row-level lineage; SELECT * hides them") {
    val root = newRoot()
    Manifest.init(spark, root,
      spark.range(0, 10).filter($"id" % 2 === 0).toDF("id")) // v1
    Manifest.commitAppend(spark, root,
      spark.range(0, 10).filter($"id" % 2 === 1).toDF("id")) // v2
    val df = connRead(root).select($"id", $"_commit_version", $"_file")
    val rows = df.as[(Long, Long, String)].collect()
    assert(rows.length == 10)
    // the commit that added each row is its version stamp
    assert(rows.forall { case (id, v, f) =>
      v == (if (id % 2 == 0) 1L else 2L) && f.contains("/data/c")
    })
    // each version's rows name only that commit's files
    assert(rows.filter(_._2 == 1L).map(_._3).distinct
      .forall(_.contains("/data/c00000001-")))
    // hidden unless referenced
    assert(!connRead(root).columns.contains("_file"))
    assert(connRead(root).select($"*").columns.toSeq == Seq("id"))
  }

  test("grouped aggregate pushdown: GROUP BY partition columns is " +
    "answered per partition tuple from stats — no data pages") {
    val root = fixture() // partitioned by part ∈ p0..p3, 50 rows each
    val byPart = connRead(root).groupBy($"part")
      .agg(count(lit(1)).as("n"), min($"score").as("lo"))
    assert(byPart.as[(String, Long, Long)].collect().toSeq.sorted ==
      Seq(("p0", 50L, 40L), ("p1", 50L, 10L),
        ("p2", 50L, 20L), ("p3", 50L, 30L)))
    // 4 group rows left the scan — not 200 data rows
    assert(scanRows(byPart) == 4L,
      "grouped aggregate was not answered from manifest stats")
    // composes with a partition filter (pruned groups disappear)
    val one = connRead(root).filter($"part" === "p2")
      .groupBy($"part").agg(max($"id").as("hi"))
    assert(one.as[(String, Long)].collect().toSeq == Seq(("p2", 198L)))
    assert(scanRows(one) == 1L)
    // grouping by a DATA column falls back and stays correct
    val byData = connRead(root).groupBy($"score")
      .agg(count(lit(1)).as("n"))
    assert(byData.as[(Long, Long)].collect().length ==
      fixtureRows(3).map(_._4).distinct.size)
  }

  test("min/max over float/double refuses stats pushdown: parquet " +
    "footer bounds may omit NaN, so the scan must run") {
    val root = newRoot()
    Manifest.init(spark, root,
      Seq(1.0d, Double.NaN, -3.5d).toDF("x")
        .withColumn("f", $"x".cast("float")))
    // Spark ranks NaN above every value; footer stats would answer 1.0
    val mx = connRead(root).agg(max($"x").as("hi"), min($"x").as("lo"))
    val (hi, lo) = mx.as[(Double, Double)].head
    assert(hi.isNaN && lo == -3.5d)
    // the scan is NOT in aggregate mode — it read the data column
    assert(scanOf(mx).readSchema().fieldNames.contains("x"))
    val mf = connRead(root).agg(max($"f").as("hi"))
    assert(mf.as[Float].head.isNaN)
    assert(scanOf(mf).readSchema().fieldNames.contains("f"))
    // counts remain stats-answerable on the same table
    val cnt = connRead(root).agg(count(lit(1)).as("n"))
    assert(cnt.as[Long].head == 3L && scanRows(cnt) == 1L)
  }

  test("runtime filtering: a selective dim join prunes fact files at " +
    "execution time — dynamic partition pruning through the DSv2 scan") {
    val root = fixture() // partitioned by part ∈ p0..p3
    val fact = connRead(root)
    // the dim must come from storage: a local Seq constant-folds its
    // filter away and DPP sees no selective predicate to reuse
    val dimPath = java.nio.file.Files
      .createTempDirectory("graft-dpp-dim").toString + "/dim"
    Seq(("p2", "keep"), ("p9", "other")).toDF("dpart", "tag")
      .write.parquet(dimPath)
    val dim = spark.read.parquet(dimPath)
    val joined = fact.join(dim.filter($"tag" === "keep"),
      fact("part") === dim("dpart"))
      .select($"id", $"part", $"score")
    // collect THIS dataset: .as[...] would re-plan with a fresh scan
    // instance and the narrowing assert below would watch the wrong one
    val rows = joined.collect()
    // correctness first: exactly partition p2's rows
    assert(rows.length == 50 && rows.forall(_.getString(1) == "p2"))
    // the scan narrowed its file set at execution time: only p2's
    // files were planned into tasks
    val scan = scanOf(joined)
    assert(scan.runtimeFileCount < scan.plannedFiles.length,
      s"runtime filter did not narrow: ${scan.runtimeFileCount} of " +
        s"${scan.plannedFiles.length} files")
    assert(scan.runtimeFileCount ==
      scan.plannedFiles.count(_.partValues.toMap.apply("part") == "p2"))
    // a second read of the same table is untouched (fresh scan)
    assert(connRead(root).count() == 200L)
  }

  test("top-N pushdown: ORDER BY + LIMIT plans only files whose zone " +
    "maps can contribute; unsafe shapes refuse and stay correct") {
    val root = newRoot()
    // four commits with disjoint score ranges → file bounds separate
    for (lo <- Seq(1L, 51L, 101L, 151L))
      if (lo == 1L)
        Manifest.init(spark, root,
          (lo to lo + 49L).map(i => (i, i * 2)).toDF("id", "score"))
      else
        Manifest.commitAppend(spark, root,
          (lo to lo + 49L).map(i => (i, i * 2)).toDF("id", "score"))
    val total = connRead(root).select($"_file").distinct().count()
    val top = connRead(root).orderBy($"score".desc).limit(5)
      .select($"id", $"score")
    assert(top.as[(Long, Long)].collect().toSeq ==
      (0 until 5).map(i => (200L - i, 400L - 2 * i)))
    val scan = scanOf(top)
    assert(scan.description().contains("pushedTopN"),
      "top-N was not pushed: " + scan.description())
    assert(scan.plannedFiles.length < total,
      s"no file narrowing: ${scan.plannedFiles.length} of $total")
    // ascending (bottom-n) narrows from the other end
    val bottom = connRead(root).orderBy($"score".asc).limit(3)
      .select($"score")
    assert(bottom.as[Long].collect().toSeq == Seq(2L, 4L, 6L))
    assert(scanOf(bottom).plannedFiles.length < total)
    // a residual data filter breaks the row-count guarantee → refuse,
    // full file set, correct result
    val filtered = connRead(root).filter($"id" % 2 === 0L)
      .orderBy($"score".desc).limit(3).select($"score")
    assert(filtered.as[Long].collect().toSeq == Seq(400L, 396L, 392L))
    assert(!scanOf(filtered).description().contains("pushedTopN"))
  }

  test("timestamp tables written by the Scala API survive the row " +
    "path: pushed LIMIT and CDC decode INT64-micros timestamps") {
    val root = newRoot()
    val t0 = java.sql.Timestamp.valueOf("2026-01-02 03:04:05.000006")
    val t1 = java.sql.Timestamp.valueOf("2026-05-06 07:08:09.000010")
    Manifest.init(spark, root,
      Seq((1L, t0), (2L, t1)).toDF("id", "ts"))         // v1
    Manifest.deleteByKeys(spark, root, Seq(2L).toDF("id")) // v2
    // pushed LIMIT forces the row-path reader over v1's files
    val lim = connRead(root, version = Some(1L)).limit(2)
      .as[(Long, java.sql.Timestamp)].collect().toMap
    assert(lim == Map(1L -> t0, 2L -> t1))
    // CDC replay (always row-path) round-trips the same encoding
    val cdc = spark.read.format("graft-manifest")
      .option("cdc", "true").option("changesFrom", "0").load(root)
      .filter($"_change_type" === "insert")
      .select($"id", $"ts").as[(Long, java.sql.Timestamp)]
      .collect().toMap
    assert(cdc == Map(1L -> t0, 2L -> t1))
  }

  test("columnStats: zone-map min/max and null counts reach the CBO; " +
    "analyzeTable adds NDV; a pruned scan reports pruned ranges") {
    val root = newRoot()
    val df = (1L to 100L).map(i =>
      (i, "p" + (i % 2), if (i <= 90) s"t$i" else null))
      .toDF("id", "part", "txt")
    Manifest.init(spark, root, df, Seq("part"))
    Manifest.analyzeTable(spark, root)

    def statsOf(d: DataFrame) = {
      val cs = scanOf(d).estimateStatistics().columnStats()
      import scala.jdk.CollectionConverters._
      cs.asScala.map { case (k, v) => k.fieldNames().head -> v }.toMap
    }
    val full = statsOf(connRead(root))
    // data column: envelope from zone maps, NDV from the analyze pass
    assert(full("id").min().get() == 1L && full("id").max().get() == 100L)
    assert(full("id").nullCount().getAsLong == 0L)
    val ndv = full("id").distinctCount().getAsLong
    assert(ndv > 80L && ndv <= 110L, s"approximate NDV off: $ndv")
    // string column: no range, but nulls + lengths
    assert(!full("txt").min().isPresent)
    assert(full("txt").nullCount().getAsLong == 10L)
    assert(full("txt").avgLen().getAsLong >= 2L)
    assert(full("txt").maxLen().getAsLong == 3L) // "t90"; 91+ are null
    // partition column: exact NDV from the planned files
    assert(full("part").distinctCount().getAsLong == 2L)

    // partition-pruned scan: stats describe the SURVIVING files only
    val pruned = statsOf(connRead(root).filter($"part" === "p0"))
    assert(pruned("part").distinctCount().getAsLong == 1L)
    assert(pruned("id").min().get() == 2L)

    // catalyst integration: the optimized plan's attribute stats carry
    // the reported values (rowCount path is exercised with CBO on)
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val rel = connRead(root).queryExecution.optimizedPlan
      val stats = rel.stats
      assert(stats.rowCount.contains(BigInt(100)))
      val attr = stats.attributeStats.toSeq
        .collectFirst { case (a, st) if a.name == "id" => st }
      assert(attr.exists(_.max.contains(100L)), s"got $attr")
    } finally spark.conf.set("spark.sql.cbo.enabled", "false")
  }

  test("every task of a full connector scan reports input bytes") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerTaskEnd}
    val root = fixture()
    val bytes = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        bytes.add(e.taskMetrics.inputMetrics.bytesRead)
      // task ends reach a listener before their job's end
      override def onJobEnd(e: SparkListenerJobEnd): Unit = done.countDown()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(Manifest.read(spark, root).collect().length == 200)
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val perTask = bytes.asScala.toSeq
    assert(perTask.nonEmpty && perTask.forall(_ > 0L), perTask)
  }
}
