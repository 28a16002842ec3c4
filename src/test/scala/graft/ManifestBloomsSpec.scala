package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.sources.{Manifest, ManifestBlooms}
import graft.sources.connector.ManifestScan

/** Per-file Bloom sidecars ([[graft.sources.ManifestBlooms]]): point
  * lookups on an UNCLUSTERED high-cardinality column prune files at
  * planning time where zone-map envelopes (which all span nearly the
  * full domain under shuffled writes) prune nothing. Covers: pruning +
  * correctness for Eq/In/string keys, conservative survival (uncovered
  * files, un-bloomed columns, Or with undecidable legs), incremental
  * build after append, and sidecar reclamation with vacuum. */
class ManifestBloomsSpec extends SparkSpec {
  import spark.implicits._

  private def newRoot() = "file://" + java.nio.file.Files
    .createTempDirectory("graft-bloom").toString + "/t"

  /** Eight single-file commits, keys STRIPED across files (file k
    * holds keys ≡ k mod 8): every file's [min,max] envelope spans
    * nearly [1, 4000], so zone maps cannot prune an equality probe —
    * exactly the bloom use case. One commit per file keeps the layout
    * deterministic (no AQE coalescing surprises). */
  private def fixture(): String = {
    val root = newRoot()
    val df = (1L to 4000L).map(i =>
      (i, s"k-${i * 7919 % 100000}", i % 97))
      .toDF("key", "skey", "v")
    Manifest.init(spark, root,
      df.filter($"key" % 8 === 0).coalesce(1))
    for (k <- 1 to 7)
      Manifest.commitAppend(spark, root,
        df.filter($"key" % 8 === k).coalesce(1))
    root
  }

  private def connRead(root: String): DataFrame =
    spark.read.format("graft-manifest").load(root)

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

  test("point lookup plans only bloom-positive files; zone maps alone " +
    "could not prune a shuffled key") {
    val root = fixture()
    ManifestBlooms.build(spark, root, Seq("key", "skey"))

    val all = scanOf(connRead(root).select($"key")).plannedFiles.length
    assert(all == 8)

    for (k <- Seq(17L, 1234L, 3999L)) {
      val q = connRead(root).filter($"key" === k)
      val planned = scanOf(q).plannedFiles.length
      assert(planned < all, s"key=$k planned $planned of $all")
      assert(q.select($"key", $"v").as[(Long, Long)].collect().toSeq ==
        Seq((k, k % 97)))
    }
    // absent key: bloom says definitely-absent everywhere (modulo fp)
    val none = connRead(root).filter($"key" === 999999L)
    assert(scanOf(none).plannedFiles.length < all)
    assert(none.count() == 0)

    // string column, same machinery
    val sq = connRead(root).filter($"skey" === "k-7919") // key=1
    assert(scanOf(sq).plannedFiles.length < all)
    assert(sq.select($"key").as[Long].collect().toSeq == Seq(1L))

    // IN probes the union of values: both homes planned, still pruned
    val inq = connRead(root).filter($"key".isin(17L, 1234L))
    assert(scanOf(inq).plannedFiles.length < all)
    assert(inq.select($"key").as[Long].collect().toSet ==
      Set(17L, 1234L))
  }

  test("conservative survival: un-bloomed columns, OR with an " +
    "undecidable leg, and bloom-less tables never over-prune") {
    val root = fixture()
    // before any build: no header, no pruning, correct results
    assert(scanOf(connRead(root).filter($"key" === 17L))
      .plannedFiles.length == 8)
    ManifestBlooms.build(spark, root, Seq("key"))

    // filter on a column WITHOUT a bloom: all files planned
    assert(scanOf(connRead(root).filter($"v" === 5L))
      .plannedFiles.length == 8)

    // OR with an undecidable leg must keep every file (the range leg
    // can match rows anywhere) — and the answer stays right
    val orq = connRead(root).filter($"key" === 17L || $"v" >= 96L)
    assert(scanOf(orq).plannedFiles.length == 8)
    assert(orq.count() ==
      connRead(root).filter($"v" >= 96L).count() + 1 -
        (if (17L % 97 >= 96L) 1L else 0L))

    // AND composes: the decidable conjunct alone prunes
    val andq = connRead(root).filter($"key" === 17L && $"v" < 96L)
    assert(scanOf(andq).plannedFiles.length < 8)
    assert(andq.select($"key").as[Long].collect().toSeq == Seq(17L))
  }

  test("appended files survive until the incremental build covers " +
    "them; the second build extends coverage without a full re-read") {
    val root = fixture()
    ManifestBlooms.build(spark, root, Seq("key"))
    Manifest.commitAppend(spark, root,
      Seq((100001L, "k-new", 1L), (100002L, "k-new2", 2L))
        .toDF("key", "skey", "v"))

    // the new file has no sidecar: a lookup of ITS key must plan it
    val fresh = connRead(root).filter($"key" === 100001L)
    assert(fresh.select($"skey").as[String].collect().toSeq ==
      Seq("k-new"))
    // old keys still prune (old sidecars valid), new file survives too
    val old = scanOf(connRead(root).filter($"key" === 17L))
    assert(old.plannedFiles.length < 9)

    ManifestBlooms.build(spark, root, Seq("key"))
    val after = connRead(root).filter($"key" === 100001L)
    assert(scanOf(after).plannedFiles.length < 9)
    assert(after.select($"skey").as[String].collect().toSeq ==
      Seq("k-new"))
    // coverage header survives and lookups stay correct end to end
    for (k <- Seq(17L, 1234L, 100002L))
      assert(connRead(root).filter($"key" === k).count() == 1)
  }

  test("vacuum reclaims the sidecars of the files it drops") {
    val root = fixture()
    ManifestBlooms.build(spark, root, Seq("key"))
    val (fs, _) = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root),
      spark.sparkContext.hadoopConfiguration) -> ()
    def sidecars(): Int = {
      val d = new org.apache.hadoop.fs.Path(
        s"$root/${ManifestBlooms.Dir}")
      if (!fs.exists(d)) 0
      else {
        val it = fs.listFiles(d, true)
        var n = 0
        while (it.hasNext) { it.next(); n += 1 }
        n
      }
    }
    assert(sidecars() == 8)
    // rewrite the whole table (new files), then vacuum the old snapshot
    Manifest.commitReplace(spark, root,
      connRead(root).repartition(2))
    Manifest.vacuum(spark, root, keepVersions = 1)
    // old data files are gone, and so are their sidecars; the new
    // files never had any
    assert(sidecars() == 0)
    // coverage header still present but harmless: reads stay correct
    assert(connRead(root).filter($"key" === 17L).count() == 1)
    // a fresh build re-covers the rewritten files
    ManifestBlooms.build(spark, root, Seq("key"))
    val nowFiles = ScanFiles.live(spark, root)
    assert(sidecars() == nowFiles && nowFiles >= 1)
    assert(scanOf(connRead(root).filter($"key" === 17L))
      .plannedFiles.length <= 1)
  }

  test("runtime filtering consults blooms: a selective dim join on an " +
    "UNCLUSTERED key narrows fact files at execution time") {
    val root = fixture()
    ManifestBlooms.build(spark, root, Seq("key"))
    val fact = connRead(root)
    // dim from storage (a local Seq constant-folds; DPP needs a real
    // selective scan to reuse)
    val dimPath = java.nio.file.Files
      .createTempDirectory("graft-bloom-dim").toString + "/dim"
    Seq((17L, "keep"), (1234L, "keep"), (999999L, "other"))
      .toDF("dkey", "tag").write.parquet(dimPath)
    val dim = spark.read.parquet(dimPath)
    val joined = fact.join(dim.filter($"tag" === "keep"),
      fact("key") === dim("dkey"))
      .select($"key", $"v")
    val rows = joined.collect()
    assert(rows.map(_.getLong(0)).toSet == Set(17L, 1234L))
    val scan = scanOf(joined)
    info(s"runtime=${scan.runtimeFileCount} planned=${scan.plannedFiles.length}")
    if (scan.runtimeFileCount < scan.plannedFiles.length) {
      // the runtime IN reached the scan and the blooms narrowed it —
      // zone maps alone could never prune a striped key
      assert(scan.runtimeFileCount <= 4,
        s"blooms should narrow to the keys' home files, got " +
          s"${scan.runtimeFileCount}")
    } else {
      // planner chose not to inject a runtime filter for this shape —
      // acceptable (heuristic), but static pruning must still work
      assert(scanOf(connRead(root).filter($"key" === 17L))
        .plannedFiles.length < 8)
    }
  }

  test("SQL surface: CALL system.build_blooms prunes catalog reads") {
    spark.conf.set("spark.sql.catalog.bloomcat",
      classOf[graft.sources.connector.ManifestCatalog].getName)
    spark.conf.set("spark.sql.catalog.bloomcat.root",
      "file://" + java.nio.file.Files
        .createTempDirectory("graft-bloomcat").toString)
    spark.sql("CREATE TABLE bloomcat.db.bl (key BIGINT, v BIGINT)")
    // striped inserts → one commit (≥1 file) each, overlapping ranges
    for (k <- 0 to 3)
      spark.sql("INSERT INTO bloomcat.db.bl " +
        s"SELECT id, id % 13 FROM range(2000) WHERE id % 4 = $k")
    val v = spark.sql("CALL bloomcat.system.build_blooms(" +
        "table => 'db.bl', columns => 'key')")
      .as[Long].head
    assert(v >= 2L)
    val total = scanOf(spark.sql("SELECT v FROM bloomcat.db.bl"))
      .plannedFiles.length
    assert(total >= 4)
    val q = spark.sql("SELECT v FROM bloomcat.db.bl WHERE key = 777")
    assert(scanOf(q).plannedFiles.length < total)
    assert(q.as[Long].collect().toSeq == Seq(777L % 13))
  }
}
