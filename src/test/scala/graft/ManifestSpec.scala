package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.sources.Manifest

/** The manifest commit layer's contract: single-rename atomicity,
  * snapshot isolation for pinned readers, time travel, copy-on-write
  * merge that carries untouched partitions' files forward, vacuum
  * retention, and conflict detection. */
class ManifestSpec extends SparkSpec {
  import spark.implicits._

  private def newRoot() = "file://" + java.nio.file.Files
    .createTempDirectory("graft-manifest").toString + "/t"

  test("init → append → replace: version chain, latest and time travel") {
    val root = newRoot()
    val v1 = Manifest.init(spark, root,
      Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "part", "v"),
      Seq("part"))
    assert(v1 == 1L)
    val v2 = Manifest.commitAppend(spark, root,
      Seq((3L, "a", 30)).toDF("id", "part", "v"), Seq("part"))
    assert(v2 == 2L)
    val v3 = Manifest.commitReplace(spark, root,
      Seq((9L, "z", 90)).toDF("id", "part", "v"), Seq("part"))
    assert(v3 == 3L)
    def rows(v: Long) = Manifest.read(spark, root, Some(v))
      .select("id", "part", "v").as[(Long, String, Int)].collect().toSet
    assert(rows(1) == Set((1L, "a", 10), (2L, "b", 20)))
    assert(rows(2) == Set((1L, "a", 10), (2L, "b", 20), (3L, "a", 30)))
    assert(rows(3) == Set((9L, "z", 90)))
    assert(Manifest.latestVersion(spark, root).contains(3L))
  }

  /** Manifest paths of the version-`v` files holding a row whose id is
    * one of `ids` (the `_file` metadata column). */
  private def filesHolding(root: String, v: Long, ids: Long*): Set[String] =
    spark.read.format("graft-manifest").option("version", v).load(root)
      .filter(col("id").isin(ids: _*)).select("_file").as[String].collect()
      .map(_.stripPrefix(s"$root/")).toSet

  test("mergeInto: cross-partition atomic commit; untouched partition " +
    "files carry over by reference; pinned reader keeps old snapshot") {
    val root = newRoot()
    Manifest.init(spark, root,
      Seq((1L, "a", 10), (2L, "a", 20), (3L, "b", 30), (4L, "c", 40))
        .toDF("id", "part", "v"),
      Seq("part"))
    val before = Manifest.snapshot(spark, root, 1L)
    val v2 = Manifest.mergeInto(spark, root,
      Seq((2L, "a", 99), (5L, "a", 50)).toDF("id", "part", "v"),
      "id", "part")
    assert(v2 == 2L)
    val after = Manifest.snapshot(spark, root, 2L)
    // untouched partitions b and c: the SAME file paths in both
    // manifests — carried by reference, zero data IO
    val untouched = (p: String) =>
      before.files.filter(_.contains(s"part=$p/")).toSet
    assert(untouched("b").nonEmpty && untouched("c").nonEmpty)
    assert(untouched("b").subsetOf(after.files.toSet))
    assert(untouched("c").subsetOf(after.files.toSet))
    // touched partition a: the file that held the updated key is
    // replaced (rewrites are file-granular)
    val held = filesHolding(root, 1L, 2L)
    assert(held.nonEmpty && held.forall(_.contains("part=a/")))
    assert(!after.files.exists(held))
    // pinned reader (v1) is isolated from the merge
    assert(Manifest.read(spark, root, Some(1L))
      .select("id", "v").as[(Long, Int)].collect().toSet ==
      Set((1L, 10), (2L, 20), (3L, 30), (4L, 40)))
    // latest sees the merge
    assert(Manifest.read(spark, root, None)
      .select("id", "v").as[(Long, Int)].collect().toSet ==
      Set((1L, 10), (2L, 99), (5L, 50), (3L, 30), (4L, 40)))
  }

  test("deleteWhere rewrites only the file that holds the key; the " +
    "partition's other file carries over by reference") {
    val root = newRoot()
    Manifest.init(spark, root,
      Seq((1L, "a", 10), (2L, "a", 20)).toDF("id", "part", "v").coalesce(1),
      Seq("part"))
    Manifest.commitAppend(spark, root,
      Seq((3L, "a", 30), (4L, "a", 40)).toDF("id", "part", "v").coalesce(1),
      Seq("part"))
    val before = Manifest.snapshot(spark, root, 2L).files
    assert(before.size == 2)
    val (kept, holder) = before.partition(_.contains("/c00000001-"))
    assert(Manifest.deleteWhere(spark, root, col("id") === 3L, "part") == 3L)
    val after = Manifest.snapshot(spark, root, 3L).files
    assert(kept.toSet.subsetOf(after.toSet),
      s"the file without the key was rewritten: $before -> $after")
    assert(!after.contains(holder.head))
    assert(rowsOf(root) == Set((1L, "a", 10), (2L, "a", 20), (4L, "a", 40)))
  }

  test("mergeInto: an update that moves a key to another partition " +
    "leaves exactly one row for it") {
    val root = newRoot()
    Manifest.init(spark, root,
      Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "part", "v"),
      Seq("part"))
    Manifest.mergeInto(spark, root,
      Seq((1L, "b", 11)).toDF("id", "part", "v"), "id", "part")
    assert(rowsOf(root) == Set((1L, "b", 11), (2L, "b", 20)))
  }

  test("mergeInto: two updates of one key fail the merge and publish " +
    "nothing") {
    val root = newRoot()
    Manifest.init(spark, root,
      Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "part", "v"),
      Seq("part"))
    val e = intercept[Exception] {
      Manifest.mergeInto(spark, root,
        Seq((1L, "a", 11), (1L, "a", 12)).toDF("id", "part", "v"),
        "id", "part")
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage)
        .contains("MERGE_CARDINALITY_VIOLATION")), e.toString)
    assert(Manifest.latestVersion(spark, root).contains(1L))
    assert(rowsOf(root) == Set((1L, "a", 10), (2L, "b", 20)))
  }

  test("mergeInto: an update with an extra column widens the schema; " +
    "carried rows read it back NULL") {
    val root = newRoot()
    Manifest.init(spark, root,
      Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "part", "v"),
      Seq("part"))
    Manifest.mergeInto(spark, root,
      Seq((2L, "b", 21, "x"), (3L, "c", 30, "y"))
        .toDF("id", "part", "v", "extra"), "id", "part")
    val head = Manifest.read(spark, root)
    assert(head.schema("extra").nullable)
    assert(head.select("id", "v", "extra")
      .as[(Long, Int, Option[String])].collect().toSet ==
      Set((1L, 10, None), (2L, 21, Some("x")), (3L, 30, Some("y"))))
  }

  test("compact: bin-packs small files from manifest-recorded sizes, " +
    "carries healthy files by reference, preserves content + snapshots") {
    val root = newRoot()
    // one healthy commit (1000 rows → several KB) + three tiny ones
    Manifest.init(spark, root,
      spark.range(100L, 1100L).selectExpr("id", "'a' AS part",
        "CAST(id AS INT) AS v"),
      Seq("part"))
    Manifest.commitAppend(spark, root,
      Seq((1L, "a", 1), (2L, "b", 2)).toDF("id", "part", "v"), Seq("part"))
    Manifest.commitAppend(spark, root,
      Seq((3L, "b", 3)).toDF("id", "part", "v"), Seq("part"))
    Manifest.commitAppend(spark, root,
      Seq((4L, "c", 4)).toDF("id", "part", "v"), Seq("part"))
    val before = Manifest.read(spark, root, None)
      .select("id", "part", "v").as[(Long, String, Int)].collect().toSet
    val v4 = Manifest.snapshotMeta(spark, root, 4L)
    val healthy = v4.entries.filter(_.size >= 2500L).map(_.path)
    assert(healthy.nonEmpty, "fixture needs one healthy-size file: " +
      v4.entries.map(e => e.path -> e.size))
    // compact everything under 2500 bytes (the three tiny commits)
    val v5 = Manifest.compact(spark, root, smallBytes = 2500L,
      targetBytes = 1L << 20)
    assert(v5 == 5L)
    val after = Manifest.snapshotMeta(spark, root, 5L)
    // healthy file carried by reference, byte-identical path
    healthy.foreach(h => assert(after.files.contains(h),
      s"healthy file $h was rewritten"))
    // fewer files, identical content
    assert(after.files.size < v4.files.size)
    assert(Manifest.read(spark, root, None)
      .select("id", "part", "v").as[(Long, String, Int)].collect().toSet
      == before)
    // compacted files carry fresh zone maps (stats written at commit)
    assert(after.entries.filterNot(e => healthy.contains(e.path))
      .forall(_.fileStats.isDefined))
    // pinned pre-compaction snapshot unchanged
    assert(Manifest.read(spark, root, Some(4L)).count() == before.size)
    // nothing small → no-op, same version
    assert(Manifest.compact(spark, root, smallBytes = 1L) == 5L)
  }

  test("readChangesCdc: row-level feed with retraction keys across " +
    "merge-on-read delete commits, stamped by commit version") {
    val root = newRoot()
    Manifest.init(spark, root,
      Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "part", "v"),
      Seq("part"))                                              // v1
    Manifest.commitAppend(spark, root,
      Seq((3L, "a", 30), (4L, "c", 40)).toDF("id", "part", "v"),
      Seq("part"))                                              // v2
    Manifest.deleteByKeys(spark, root, Seq(1L, 3L).toDF("id"))  // v3
    val cdc = Manifest.readChangesCdc(spark, root, from = 1L)
      .select("id", "part", "v", "_change_type", "_commit_version")
      .as[(Option[Long], Option[String], Option[Int], String, Long)]
      .collect().toSet
    assert(cdc == Set(
      (Some(3L), Some("a"), Some(30), "insert", 2L),
      (Some(4L), Some("c"), Some(40), "insert", 2L),
      (Some(1L), None, None, "delete", 3L),
      (Some(3L), None, None, "delete", 3L)))
    // plain readChanges still fails loudly across the delete commit
    intercept[IllegalArgumentException](
      Manifest.readChanges(spark, root, from = 1L))
    // a window before the delete is pure inserts
    assert(Manifest.readChangesCdc(spark, root, 1L, Some(2L))
      .select("_change_type").distinct().as[String]
      .collect().toSeq == Seq("insert"))
    // replaying the feed over the base reproduces the table
    val base = Manifest.read(spark, root, Some(1L))
      .select("id", "part", "v")
      .as[(Long, String, Int)].collect().toSet
    val ins = cdc.filter(_._4 == "insert")
      .map(r => (r._1.get, r._2.get, r._3.get))
    val delKeys = cdc.filter(_._4 == "delete").map(_._1.get)
    assert((base ++ ins).filterNot(r => delKeys.contains(r._1)) ==
      Manifest.read(spark, root, None)
        .select("id", "part", "v")
        .as[(Long, String, Int)].collect().toSet)
  }

  test("removeOrphans deletes only unreferenced data files outside " +
    "the grace window; snapshots, stages and young files survive") {
    val root = newRoot()
    Manifest.init(spark, root,
      Seq((1L, "a", 10)).toDF("id", "part", "v"), Seq("part"))
    Manifest.commitAppend(spark, root,
      Seq((2L, "b", 20)).toDF("id", "part", "v"), Seq("part"))
    Manifest.stageAppend(spark, root,
      Seq((3L, "c", 30)).toDF("id", "part", "v"), "pend", Seq("part"))
    // plant crash leftovers: a losing committer's whole staged dir
    val (fs, _) = (new org.apache.hadoop.fs.Path(root))
      .getFileSystem(spark.sparkContext.hadoopConfiguration) -> ()
    val orphanDir = new org.apache.hadoop.fs.Path(
      s"$root/data/c00000099-dead/part=z")
    fs.mkdirs(orphanDir)
    val f = fs.create(
      new org.apache.hadoop.fs.Path(orphanDir, "part-0.parquet"))
    f.write(Array[Byte](1, 2, 3)); f.close()
    // young orphan survives the default grace window
    assert(Manifest.removeOrphans(spark, root).isEmpty)
    // with no grace it is reclaimed; nothing referenced is touched
    val dead = Manifest.removeOrphans(spark, root, graceMillis = 0L)
    assert(dead == Seq("data/c00000099-dead/part=z/part-0.parquet"))
    assert(Manifest.read(spark, root, None).count() == 2L)
    assert(Manifest.read(spark, root, Some(1L)).count() == 1L)
    assert(Manifest.readStage(spark, root, "pend").count() == 3L)
    // idempotent
    assert(Manifest.removeOrphans(spark, root, 0L).isEmpty)
  }

  test("write-audit-publish: staged commits are invisible until " +
    "published; stale publish fails loudly; discard reclaims") {
    val root = newRoot()
    Manifest.init(spark, root,
      Seq((1L, "a", 10)).toDF("id", "part", "v"), Seq("part")) // v1
    Manifest.stageAppend(spark, root,
      Seq((2L, "b", 20)).toDF("id", "part", "v"), "wap1", Seq("part"))
    // the chain — and every plain reader — is untouched
    assert(Manifest.latestVersion(spark, root).contains(1L))
    assert(Manifest.read(spark, root, None).count() == 1L)
    // the audit sees base + delta through BOTH read paths
    assert(Manifest.readStage(spark, root, "wap1")
      .select("id").as[Long].collect().toSet == Set(1L, 2L))
    assert(spark.read.format("graft-manifest")
      .option("stage", "wap1").load(root).count() == 2L)
    assert(Manifest.stages(spark, root) == Seq("wap1"))
    // a stage id is claimed once
    intercept[IllegalStateException](Manifest.stageAppend(spark, root,
      Seq((9L, "z", 0)).toDF("id", "part", "v"), "wap1", Seq("part")))
    // retention never reclaims under a pending audit
    Manifest.vacuum(spark, root, keepVersions = 1)
    assert(Manifest.readStage(spark, root, "wap1").count() == 2L)
    // publish = ordinary atomic fast-forward; stage file released
    val v2 = Manifest.publishStage(spark, root, "wap1")
    assert(v2 == 2L)
    assert(Manifest.read(spark, root, None).count() == 2L)
    assert(Manifest.stages(spark, root).isEmpty)
    // a commit that lands mid-audit invalidates the stage
    Manifest.stageAppend(spark, root,
      Seq((3L, "c", 30)).toDF("id", "part", "v"), "wap2", Seq("part"))
    Manifest.commitAppend(spark, root,
      Seq((4L, "d", 40)).toDF("id", "part", "v"), Seq("part")) // v3
    intercept[IllegalArgumentException](
      Manifest.publishStage(spark, root, "wap2"))
    // discard deletes ONLY the staged files; the table reads clean
    val removed = Manifest.discardStage(spark, root, "wap2")
    assert(removed.nonEmpty)
    assert(Manifest.read(spark, root, None)
      .select("id").as[Long].collect().toSet == Set(1L, 2L, 4L))
    intercept[Exception](Manifest.readStage(spark, root, "wap2"))
    // staged REPLACE: the audit sees ONLY the new corpus; publish
    // swaps the whole table
    Manifest.stageReplace(spark, root,
      Seq((7L, "z", 70)).toDF("id", "part", "v"), "redrop", Seq("part"))
    assert(Manifest.read(spark, root, None).count() == 3L) // untouched
    assert(Manifest.readStage(spark, root, "redrop")
      .select("id").as[Long].collect().toSeq == Seq(7L))
    Manifest.publishStage(spark, root, "redrop")
    assert(Manifest.read(spark, root, None)
      .select("id").as[Long].collect().toSeq == Seq(7L))
  }

  test("commitDropColumns: metadata-only shrink; pinned versions keep " +
    "the column; re-add refused until a rewrite clears the tombstone") {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val root = newRoot()
    Manifest.init(spark, root,
      Seq((1L, "a", 10L)).toDF("id", "part", "v"), Seq("part"))
    val before = Manifest.snapshot(spark, root, 1L).files.toSet
    val v2 = Manifest.commitDropColumns(spark, root, Seq("v"))
    // SAME files, narrower header — zero data IO
    assert(Manifest.snapshot(spark, root, v2).files.toSet == before)
    assert(Manifest.read(spark, root, None).columns.toSeq ==
      Seq("id", "part"))
    assert(spark.read.format("graft-manifest").load(root)
      .columns.toSeq == Seq("id", "part"))
    // pinned pre-drop snapshot still reads the column's values
    assert(Manifest.read(spark, root, Some(1L))
      .select("v").as[Long].collect().toSeq == Seq(10L))
    // guards: partition column, unknown column, re-add over tombstone
    intercept[IllegalArgumentException](
      Manifest.commitDropColumns(spark, root, Seq("part")))
    intercept[IllegalArgumentException](
      Manifest.commitDropColumns(spark, root, Seq("nope")))
    intercept[IllegalArgumentException](
      Manifest.commitAddColumns(spark, root,
        StructType(Seq(StructField("v", LongType)))))
    // pending merge-on-read delete keys are protected
    val root2 = newRoot()
    Manifest.init(spark, root2, Seq((1L, 5L)).toDF("id", "x"))
    Manifest.deleteByKeys(spark, root2, Seq(1L).toDF("id"))
    intercept[IllegalArgumentException](
      Manifest.commitDropColumns(spark, root2, Seq("id")))
    // a full rewrite releases the tombstone: re-add reads NULL
    Manifest.commitReplace(spark, root,
      Seq((2L, "b")).toDF("id", "part"), Seq("part"))
    Manifest.commitAddColumns(spark, root,
      StructType(Seq(StructField("v", LongType))))
    assert(Manifest.read(spark, root, None)
      .select("v").as[Option[Long]].collect().toSeq == Seq(None))
  }

  test("vacuum drops only files no surviving snapshot references") {
    val root = newRoot()
    Manifest.init(spark, root, Seq((1L, "x")).toDF("id", "s"))
    Manifest.commitReplace(spark, root, Seq((2L, "y")).toDF("id", "s"))
    Manifest.commitAppend(spark, root, Seq((3L, "z")).toDF("id", "s"))
    // keep 2 → drop v1; v1's file is referenced by NO survivor (v2 was
    // a replace), so it is deleted; v2's file survives inside v3.
    val dead = Manifest.vacuum(spark, root, keepVersions = 2)
    assert(dead.nonEmpty)
    intercept[IllegalArgumentException] {
      Manifest.snapshot(spark, root, 1L)
    }
    assert(Manifest.read(spark, root, Some(3L))
      .select("id").as[Long].collect().toSet == Set(2L, 3L))
  }

  test("commitStreamBatch: replayed batch is a no-op; batch marks " +
    "survive later commits (exactly-once sink contract)") {
    val root = newRoot()
    Manifest.commitStreamBatch(spark, root,
      Seq((1L, "x")).toDF("id", "s"), "ingest", batchId = 0L)
    Manifest.commitStreamBatch(spark, root,
      Seq((2L, "y")).toDF("id", "s"), "ingest", batchId = 1L)
    def ids = Manifest.read(spark, root, None)
      .select("id").as[Long].collect().toSet
    assert(ids == Set(1L, 2L))
    // at-least-once replay of batch 1: must not duplicate
    val vBefore = Manifest.latestVersion(spark, root).get
    Manifest.commitStreamBatch(spark, root,
      Seq((2L, "y")).toDF("id", "s"), "ingest", batchId = 1L)
    assert(Manifest.latestVersion(spark, root).contains(vBefore))
    assert(ids == Set(1L, 2L))
    // a batch COMMIT after an unrelated compaction still dedups:
    // replace-commit carries the high-water mark forward
    Manifest.commitReplace(spark, root,
      Manifest.read(spark, root, None))
    Manifest.commitStreamBatch(spark, root,
      Seq((2L, "y")).toDF("id", "s"), "ingest", batchId = 1L) // replay
    assert(ids == Set(1L, 2L))
    // next real batch lands; a second query id interleaves freely
    Manifest.commitStreamBatch(spark, root,
      Seq((3L, "z")).toDF("id", "s"), "ingest", batchId = 2L)
    Manifest.commitStreamBatch(spark, root,
      Seq((9L, "q")).toDF("id", "s"), "other", batchId = 0L)
    assert(ids == Set(1L, 2L, 3L, 9L))
  }

  test("read plans ONE relation across commits, from manifest " +
    "metadata alone (no per-commit union, no filesystem listing)") {
    val root = newRoot()
    Manifest.init(spark, root,
      Seq((1L, "a", 10)).toDF("id", "part", "v"), Seq("part"))
    Manifest.commitAppend(spark, root,
      Seq((2L, "b", 20)).toDF("id", "part", "v"), Seq("part"))
    Manifest.commitAppend(spark, root,
      Seq((3L, "c", 30)).toDF("id", "part", "v"), Seq("part"))
    val df = Manifest.read(spark, root, None)
    // one scan leaf over all three commits — the old shape was one
    // relation per commit unioned
    val leaves = df.queryExecution.executedPlan.collectLeaves()
    assert(leaves.length == 1, s"expected ONE scan, got:\n$leaves")
    assert(df.select("id", "part", "v").as[(Long, String, Int)]
      .collect().toSet ==
      Set((1L, "a", 10), (2L, "b", 20), (3L, "c", 30)))
    // partition column type survives the metadata round-trip
    assert(df.schema("part").dataType ==
      org.apache.spark.sql.types.StringType)
    // typed (non-string) partition columns cast back from path strings
    val root2 = newRoot()
    Manifest.init(spark, root2,
      Seq((1L, 7, 10)).toDF("id", "part", "v"), Seq("part"))
    assert(Manifest.read(spark, root2, None).schema("part").dataType ==
      org.apache.spark.sql.types.IntegerType)
    assert(Manifest.read(spark, root2, None)
      .filter(col("part") === 7).count() == 1)
  }

  test("manifest zone map skips files a data filter cannot match " +
    "(skipped files are never planned)") {
    val root = newRoot()
    // v is nullable (a `when` without `otherwise`), so the optimizer
    // cannot fold the IsNull probe below away before the scan
    val df = spark.range(1, 101)
      .select(col("id"), when(col("id") > 0L, col("id") * 2).as("v"))
      .repartitionByRange(4, col("id"))
    Manifest.init(spark, root, df)
    // v = 50 lives in exactly one of the four range files
    val probe = Manifest.read(spark, root, None).filter(col("v") === 50L)
    assert(probe.collect().map(_.getLong(0)).toSeq == Seq(25L))
    val planned = ScanFiles.perScan(probe)
    assert(planned == Seq(1L),
      s"zone map did not skip, planned files: $planned")
    // IsNull over a column with zero nulls: every file skipped
    val none = Manifest.read(spark, root, None).filter(col("v").isNull)
    assert(none.collect().isEmpty)
    val noneFiles = ScanFiles.perScan(none)
    assert(noneFiles == Seq(0L), s"planned files: $noneFiles")
    // skipping is IO-only: an overlapping filter still returns all rows
    assert(Manifest.read(spark, root, None)
      .filter(col("v") >= 2L).count() == 100L)
  }

  test("read: a filter on the partition column prunes partitions at " +
    "the scan (manifest tables keep hive-layout pruning)") {
    val root = newRoot()
    Manifest.init(spark, root,
      Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30))
        .toDF("id", "part", "v"),
      Seq("part"))
    val df = Manifest.read(spark, root, None)
      .filter(col("part") === "b")
    // executed proof: only partition b's file of the three is touched
    assert(ScanFiles.live(spark, root) == 3)
    assert(ScanFiles.perScan(df) == Seq(1L),
      "scan read more than the one pruned partition file")
    assert(df.select("id").as[Long].collect().toSeq == Seq(2L))
  }

  test("schema evolution: columns added by later commits read back " +
    "NULL from older commits' files") {
    val root = newRoot()
    Manifest.init(spark, root, Seq((1L, "x")).toDF("id", "s"))
    Manifest.commitAppend(spark, root,
      Seq((2L, "y", 7)).toDF("id", "s", "extra"))
    val got = Manifest.read(spark, root, None)
      .select("id", "s", "extra")
      .as[(Long, String, Option[Int])].collect().toSet
    assert(got == Set((1L, "x", None), (2L, "y", Some(7))))
  }

  test("deleteWhere: copy-on-write delete rewrites only matching " +
    "partitions; old snapshot keeps the rows") {
    // under a catalog, so the SQL DML below reaches it as nopcat.db.t
    val warehouse = "file://" + java.nio.file.Files
      .createTempDirectory("graft-manifest").toString
    spark.conf.set("spark.sql.catalog.nopcat",
      classOf[graft.sources.connector.ManifestCatalog].getName)
    spark.conf.set("spark.sql.catalog.nopcat.root", warehouse)
    val root = s"$warehouse/db/t"
    Manifest.init(spark, root,
      Seq((1L, "a", 10), (2L, "a", 20), (3L, "b", 30), (4L, "c", 40))
        .toDF("id", "part", "v"),
      Seq("part"))
    val before = Manifest.snapshot(spark, root, 1L)
    val v2 = Manifest.deleteWhere(spark, root, col("v") === 20, "part")
    assert(v2 == 2L)
    val after = Manifest.snapshot(spark, root, 2L)
    // untouched partitions b/c carried by reference
    for (p <- Seq("b", "c"))
      assert(before.files.filter(_.contains(s"part=$p/")).toSet
        .subsetOf(after.files.toSet), s"partition $p was rewritten")
    assert(Manifest.read(spark, root, None)
      .select("id").as[Long].collect().toSet == Set(1L, 3L, 4L))
    // time travel still sees the deleted row
    assert(Manifest.read(spark, root, Some(1L))
      .select("id").as[Long].collect().toSet == Set(1L, 2L, 3L, 4L))
    // no-match delete is a no-op commit
    assert(Manifest.deleteWhere(spark, root, col("v") === 999,
      "part") == 2L)
    // and so are SQL UPDATE, DELETE and MERGE that match nothing
    spark.sql("UPDATE nopcat.db.t SET v = 0 WHERE v = 999")
    spark.sql("DELETE FROM nopcat.db.t WHERE v = 999")
    Seq((999L, "a", 1)).toDF("id", "part", "v")
      .createOrReplaceTempView("nop_src")
    spark.sql("""MERGE INTO nopcat.db.t t USING nop_src s ON t.id = s.id
      |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    assert(Manifest.latestVersion(spark, root).contains(2L))
    assert(Manifest.read(spark, root, None)
      .select("id").as[Long].collect().toSet == Set(1L, 3L, 4L))
  }

  test("commit conflict: stale committer throws, winner's state intact") {
    val root = newRoot()
    Manifest.init(spark, root, Seq((1L, "x")).toDF("id", "s"))
    // Simulate a racing committer that grabs the v2 slot between this
    // committer's latestVersion() read and its publish rename: plant
    // the winner's v2 manifest file directly.
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v1 = new org.apache.hadoop.fs.Path(root + "/_manifests/v00000001.txt")
    val v2 = new org.apache.hadoop.fs.Path(root + "/_manifests/v00000002.txt")
    org.apache.hadoop.fs.FileUtil.copy(fs, v1, fs, v2, false,
      spark.sparkContext.hadoopConfiguration)
    // The loser computed next=2 from a stale latestVersion... but any
    // commit it now attempts sees latest=2 and targets v3 — so force
    // the true race by deleting v2 AFTER the loser reads latest? The
    // observable contract we can pin deterministically: a second init
    // refuses (table exists), and the planted v2 is never clobbered.
    intercept[IllegalArgumentException] {
      Manifest.init(spark, root, Seq((9L, "q")).toDF("id", "s"))
    }
    assert(Manifest.read(spark, root, Some(2L))
      .select("id").as[Long].collect().toSet == Set(1L))
    // and a normal commit lands AFTER the winner, not over it
    val v3 = Manifest.commitAppend(spark, root,
      Seq((2L, "y")).toDF("id", "s"))
    assert(v3 == 3L)
    assert(Manifest.read(spark, root, None)
      .select("id").as[Long].collect().toSet == Set(1L, 2L))
  }

  test("lost-commit race: two committers off the SAME expected version " +
    "— exactly one winner, loser throws, winner's manifest intact") {
    val root = newRoot()
    Manifest.init(spark, root, Seq((1L, "x")).toDF("id", "s"))
    val m = Manifest.snapshotMeta(spark, root, 1L)
    // both racers read latestVersion = 1 before either published
    val won = Manifest.publish(spark, root, 1L, m.entries, m.meta)
    assert(won == 2L)
    val e = intercept[IllegalStateException] {
      // the loser's list differs — if create-if-absent were not atomic
      // (the old exists+rename on local FS silently overwrites) this
      // would replace the winner's manifest instead of throwing
      Manifest.publish(spark, root, 1L, m.entries ++ m.entries, m.meta)
    }
    assert(e.getMessage.contains("commit conflict"), e.getMessage)
    assert(Manifest.snapshot(spark, root, 2L).files == m.files,
      "winner's manifest was clobbered by the losing committer")
    assert(Manifest.latestVersion(spark, root).contains(2L))
  }

  test("torn manifest read fails loudly (count header fence)") {
    val root = newRoot()
    Manifest.init(spark, root, Seq((1L, "x")).toDF("id", "s"))
    val f1 = Manifest.snapshot(spark, root, 1L).files.head
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a v2 manifest caught mid-write: header promises 3 files, body has 1
    val out = fs.create(
      new org.apache.hadoop.fs.Path(root + "/_manifests/v00000002.txt"),
      false)
    out.write(s"#count=3\n$f1\n".getBytes("UTF-8"))
    out.close()
    val e = intercept[IllegalArgumentException] {
      Manifest.snapshot(spark, root, 2L)
    }
    assert(e.getMessage.contains("torn manifest read"), e.getMessage)
  }

  test("mergeInto: hive-escaped (':') and NULL partition values — " +
    "old files dropped, no duplicates, no lost rows") {
    val root = newRoot()
    Manifest.init(spark, root,
      Seq((1L, Option("a:b"), 10), (2L, Option("a:b"), 20),
        (3L, Option.empty[String], 30), (4L, Option("c"), 40))
        .toDF("id", "part", "v"),
      Seq("part"))
    // path layout proves the escaping premise: ':' → %3A, null → default
    val v1files = Manifest.snapshot(spark, root, 1L).files
    assert(v1files.exists(_.contains("part=a%3Ab/")), v1files)
    assert(v1files.exists(_.contains("__HIVE_DEFAULT_PARTITION__")), v1files)
    // merge touching the escaped partition AND the null partition
    Manifest.mergeInto(spark, root,
      Seq((2L, Option("a:b"), 99), (3L, Option.empty[String], 33),
        (5L, Option.empty[String], 50))
        .toDF("id", "part", "v"),
      "id", "part")
    val got = Manifest.read(spark, root, None)
      .select("id", "part", "v")
      .as[(Long, Option[String], Int)].collect().toSet
    assert(got == Set(
      (1L, Some("a:b"), 10), (2L, Some("a:b"), 99),
      (3L, None, 33), (5L, None, 50), (4L, Some("c"), 40)),
      s"duplicate or lost rows after merge: $got")
    // untouched partition c carried by reference
    val after = Manifest.snapshot(spark, root, 2L).files.toSet
    assert(v1files.filter(_.contains("part=c/")).toSet.subsetOf(after))
    // the v1 files that held the matched keys — in the escaped and the
    // NULL partition — dropped from the new manifest
    val held = filesHolding(root, 1L, 2L, 3L)
    assert(held.exists(_.contains("part=a%3Ab/")) &&
      held.exists(_.contains("__HIVE_DEFAULT_PARTITION__")), held)
    assert(!after.exists(held), "escaped partition's old files carried over")
  }

  test("deleteWhere: hive-escaped and NULL partitions rewrite " +
    "correctly; NULL-predicate rows survive (3-valued DELETE)") {
    val root = newRoot()
    Manifest.init(spark, root,
      Seq((1L, Option("a:b"), Option(10)), (2L, Option("a:b"), Option(20)),
        (3L, Option.empty[String], Option(30)),
        (4L, Option("c"), Option.empty[Int]),
        (5L, Option("c"), Option(20)))
        .toDF("id", "part", "v"),
      Seq("part"))
    // v = 20 matches in the escaped partition and in c; row 4's v is
    // NULL → predicate unknown → must SURVIVE even though its
    // partition (c) is rewritten
    Manifest.deleteWhere(spark, root, col("v") === 20, "part")
    val got = Manifest.read(spark, root, None)
      .select("id").as[Long].collect().toSet
    assert(got == Set(1L, 3L, 4L), got)
    // delete in the NULL partition
    Manifest.deleteWhere(spark, root, col("id") === 3L, "part")
    assert(Manifest.read(spark, root, None)
      .select("id").as[Long].collect().toSet == Set(1L, 4L))
    // no deleted row resurfaces, no survivor lost, at any version
    assert(Manifest.read(spark, root, Some(1L))
      .select("id").as[Long].collect().toSet == Set(1L, 2L, 3L, 4L, 5L))
  }

  test("changedFiles/readChanges: append yields appended rows; merge " +
    "yields only the rewritten partition's post-image; deletes show " +
    "as removed files") {
    val root = newRoot()
    Manifest.init(spark, root,
      Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "part", "v"),
      Seq("part"))
    Manifest.commitAppend(spark, root,
      Seq((3L, "a", 30), (4L, "c", 40)).toDF("id", "part", "v"),
      Seq("part"))
    // v1→v2: exactly the appended rows
    assert(Manifest.readChanges(spark, root, 1L, Some(2L))
      .select("id", "part", "v").as[(Long, String, Int)]
      .collect().toSet == Set((3L, "a", 30), (4L, "c", 40)))
    // merge touching only part=a
    Manifest.mergeInto(spark, root,
      Seq((1L, "a", 99)).toDF("id", "part", "v"), "id", "part")
    val feed = Manifest.readChanges(spark, root, 2L, Some(3L))
      .select("id", "part", "v").as[(Long, String, Int)].collect().toSet
    // post-image of the rewritten file (v1's part=a file, the one that
    // held id 1); v2's part=a file and b and c never appear
    assert(feed == Set((1L, "a", 99)))
    // spanning reads compose: v1→v3 = appended ∪ rewritten-a
    assert(Manifest.readChanges(spark, root, 1L, Some(3L))
      .select("id").as[Long].collect().toSet == Set(1L, 3L, 4L))
    // delete shows the dropped partition's files on the removed side
    Manifest.deleteWhere(spark, root, col("id") === 4L, "part")
    val cs = Manifest.changedFiles(spark, root, 3L, 4L)
    assert(cs.removed.exists(_.contains("part=c/")), cs)
    // nothing added between identical versions → loud failure, not
    // an empty frame with a guessed schema
    intercept[IllegalArgumentException] {
      Manifest.readChanges(spark, root, 4L, Some(4L))
    }
  }

  test("multi-column partition DML: merge and delete on a " +
    "(dtype, date) layout carry untouched tuples byte-identical") {
    val root = newRoot()
    Manifest.init(spark, root,
      Seq((1L, "a", "d1", 10), (2L, "a", "d2", 20),
        (3L, "b", "d1", 30), (4L, "b", "d2", 40))
        .toDF("id", "dtype", "date", "v"),
      Seq("dtype", "date"))
    val before = Manifest.snapshot(spark, root, 1L)
    // merge touches ONLY the (a, d2) tuple
    Manifest.mergeInto(spark, root,
      Seq((2L, "a", "d2", 99), (5L, "a", "d2", 50))
        .toDF("id", "dtype", "date", "v"),
      "id", Seq("dtype", "date"))
    val after = Manifest.snapshot(spark, root, 2L)
    val untouched = before.files.filterNot(_.contains("dtype=a/date=d2"))
    assert(untouched.nonEmpty &&
      untouched.toSet.subsetOf(after.files.toSet),
      "untouched (dtype, date) tuples must carry files by reference")
    assert(after.files.filter(_.contains("dtype=a/date=d2"))
      .forall(!before.files.contains(_)))
    assert(Manifest.read(spark, root, None)
      .select("id", "dtype", "date", "v")
      .as[(Long, String, String, Int)].collect().toSet ==
      Set((1L, "a", "d1", 10), (2L, "a", "d2", 99), (5L, "a", "d2", 50),
        (3L, "b", "d1", 30), (4L, "b", "d2", 40)))
    // delete touches ONLY the (b, d1) tuple; (a, d1) carries forward
    Manifest.deleteWhere(spark, root, col("id") === 3L,
      Seq("dtype", "date"))
    val v3 = Manifest.snapshot(spark, root, 3L)
    assert(before.files.filter(_.contains("dtype=a/date=d1"))
      .toSet.subsetOf(v3.files.toSet))
    assert(Manifest.read(spark, root, None)
      .select("id").as[Long].collect().toSet == Set(1L, 2L, 5L, 4L))
  }

  test("unpartitioned DML: merge and delete rewrite the whole table; " +
    "unmatched delete is a no-op commit") {
    val root = newRoot()
    Manifest.init(spark, root, Seq((1L, 10), (2L, 20)).toDF("id", "v"))
    Manifest.mergeInto(spark, root,
      Seq((2L, 99), (3L, 30)).toDF("id", "v"), "id", Nil)
    assert(Manifest.read(spark, root, None)
      .as[(Long, Int)].collect().toSet ==
      Set((1L, 10), (2L, 99), (3L, 30)))
    Manifest.deleteWhere(spark, root, col("id") === 1L, Nil)
    assert(Manifest.read(spark, root, None)
      .as[(Long, Int)].collect().toSet == Set((2L, 99), (3L, 30)))
    val cur = Manifest.latestVersion(spark, root).get
    assert(Manifest.deleteWhere(spark, root, col("id") === 42L, Nil)
      == cur, "unmatched DELETE must not commit a new version")
  }

  /** Raw lines of one manifest file under `root/_manifests`. */
  private def manifestLines(root: String, file: String): List[String] = {
    val p = new org.apache.hadoop.fs.Path(s"$root/_manifests/$file")
    val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).toList
    finally in.close()
  }

  test("every public write path commits the schema, partcols, count " +
    "and dcount headers and a size on every file line") {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    import graft.sources.{SearchIndex, VectorIndex}
    val root = newRoot()
    val part = Seq("part")
    def rows(xs: (Long, String, Int)*) = xs.toDF("id", "part", "v")
    def vName(v: Long) = f"v$v%08d.txt"
    def head(r: String) = vName(Manifest.latestVersion(spark, r).get)
    def headV = Manifest.latestVersion(spark, root).get
    val clone = newRoot()
    val docs = newRoot(); val sidx = newRoot()
    val vecs = newRoot(); val vidx = newRoot()
    def vecRows(ids: Long*) = ids.map(i =>
      (i, Array(math.cos(i.toDouble).toFloat,
        math.sin(i.toDouble).toFloat)))
      .toDF("vec_id", "embedding")
    // (write path, the manifest it committed: (table root, file name))
    val paths: Seq[(String, () => (String, String))] = Seq(
      "init" -> { () =>
        Manifest.init(spark, root, rows((1L, "a", 10), (2L, "b", 20)), part)
        (root, head(root)) },
      "append" -> { () =>
        Manifest.commitAppend(spark, root, rows((3L, "a", 30)), part)
        (root, head(root)) },
      "appendIf" -> { () =>
        Manifest.commitAppendIf(spark, root, headV, rows((4L, "c", 40)),
          part)
        (root, head(root)) },
      "stream batch" -> { () =>
        Manifest.commitStreamBatch(spark, root, rows((5L, "c", 50)), "q",
          0L, part)
        (root, head(root)) },
      "merge" -> { () =>
        Manifest.mergeInto(spark, root, rows((2L, "b", 99)), "id", part)
        (root, head(root)) },
      "deleteWhere" -> { () =>
        Manifest.deleteWhere(spark, root, col("id") === 1L, part)
        (root, head(root)) },
      "deleteByKeys" -> { () =>
        Manifest.deleteByKeys(spark, root, Seq(3L).toDF("id"))
        (root, head(root)) },
      "rewriteDeletes" -> { () =>
        Manifest.rewriteDeletes(spark, root)
        (root, head(root)) },
      "compact" -> { () =>
        Manifest.compact(spark, root, smallBytes = 1L << 30,
          targetBytes = 1L << 30)
        (root, head(root)) },
      "zorder" -> { () =>
        Manifest.zorder(spark, root, "id", "v")
        (root, head(root)) },
      "add columns" -> { () =>
        Manifest.commitAddColumns(spark, root,
          StructType(Seq(StructField("w", StringType))))
        (root, head(root)) },
      "drop columns" -> { () =>
        Manifest.commitDropColumns(spark, root, Seq("w"))
        (root, head(root)) },
      "replace" -> { () =>
        Manifest.commitReplace(spark, root,
          rows((6L, "a", 60), (7L, "d", 70)), part)
        (root, head(root)) },
      "rollback" -> { () =>
        Manifest.rollback(spark, root, headV - 1)
        (root, head(root)) },
      "clone" -> { () =>
        Manifest.cloneTable(spark, root, clone)
        (clone, head(clone)) },
      "stage" -> { () =>
        Manifest.stageAppend(spark, root, rows((8L, "a", 80)), "s1", part)
        (root, "stage-s1.txt") },
      "publish stage" -> { () =>
        Manifest.publishStage(spark, root, "s1")
        (root, head(root)) },
      "branch append" -> { () =>
        Manifest.createBranch(spark, root, "b1")
        val bv = Manifest.commitAppendBranch(spark, root, "b1",
          rows((9L, "b", 90)), part)
        (root, s"branch-b1-${vName(bv)}") },
      "fast-forward" -> { () =>
        Manifest.fastForward(spark, root, "b1")
        (root, head(root)) },
      "search index create" -> { () =>
        Manifest.init(spark, docs, Seq((1L, "en", "merge window scan"))
          .toDF("id", "lang", "text"), Seq("lang"))
        SearchIndex.create(spark, docs, sidx, "id", "text", buckets = 2)
        (sidx, head(sidx)) },
      "search index refresh" -> { () =>
        Manifest.commitAppend(spark, docs, Seq((2L, "de", "window table"))
          .toDF("id", "lang", "text"), Seq("lang"))
        SearchIndex.refresh(spark, docs, sidx)
        (sidx, head(sidx)) },
      "vector index create" -> { () =>
        Manifest.init(spark, vecs, vecRows(1L, 2L, 3L, 4L))
        VectorIndex.createFromManifest(spark, vecs, vidx, "vec_id",
          "embedding", nCells = 2)
        (vidx, head(vidx)) },
      "vector index refresh" -> { () =>
        Manifest.commitAppend(spark, vecs, vecRows(5L, 6L))
        VectorIndex.refresh(spark, vecs, vidx)
        (vidx, head(vidx)) })
    paths.foreach { case (name, write) =>
      val (r, file) = write()
      val lines = manifestLines(r, file)
      val headers = lines.filter(_.startsWith("#"))
        .map(_.stripPrefix("#").takeWhile(_ != '=')).toSet
      val missing = Manifest.RequiredHeaders.filterNot(headers)
      assert(missing.isEmpty,
        s"$name: $file lacks the ${missing.mkString(", ")} header(s)")
      // data lines `path<TAB>size...`, delete lines `~path<TAB>size...`
      val body = lines.filterNot(_.startsWith("#"))
      assert(body.nonEmpty, s"$name: $file lists no files")
      val unsized = body.filterNot(
        _.split('\t').lift(1).exists(_.toLongOption.isDefined))
      assert(unsized.isEmpty, s"$name: $file has size-less lines $unsized")
    }
  }

  test("a manifest without the format's headers or file sizes is " +
    "refused at read") {
    val root = newRoot()
    Manifest.init(spark, root, Seq((1L, "x")).toDF("id", "s"))
    val f1 = Manifest.snapshotMeta(spark, root, 1L).entries.head
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def plant(v: Long, body: String): Unit = {
      val out = fs.create(new org.apache.hadoop.fs.Path(
        f"$root/_manifests/v$v%08d.txt"), false)
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    // fenced and sized, but no schema or partcols header
    plant(2L, s"#count=1\n#dcount=0\n${f1.path}\t${f1.size}\n")
    val e = intercept[IllegalArgumentException](
      Manifest.read(spark, root, Some(2L)))
    assert(e.getMessage.contains("lacks the schema, partcols header(s)"),
      e.getMessage)
    val ce = intercept[Exception](spark.read.format("graft-manifest")
      .option("version", "2").load(root).schema)
    assert(ce.getMessage.contains("lacks the schema, partcols header(s)"),
      ce.getMessage)
    // every header, but a file line without its size
    val hdr = manifestLines(root, "v00000001.txt").filter(_.startsWith("#"))
    plant(3L, (hdr :+ f1.path).mkString("\n") + "\n")
    val se = intercept[IllegalArgumentException](
      Manifest.read(spark, root, Some(3L)))
    assert(se.getMessage.contains("file line without a size"),
      se.getMessage)
  }

  private def rowsOf(root: String, v: Option[Long] = None) =
    Manifest.read(spark, root, v)
      .select("id", "part", "v").as[(Long, String, Int)].collect().toSet

  test("deleteByKeys: merge-on-read DELETE rewrites NO data file; " +
    "time travel keeps pre-delete rows; later appends are exempt") {
    val root = newRoot()
    Manifest.init(spark, root,
      Seq((1L, "a", 10), (2L, "a", 20), (3L, "b", 30), (4L, "c", 40))
        .toDF("id", "part", "v"), Seq("part"))
    val before = Manifest.snapshot(spark, root, 1L).files.toSet
    val v2 = Manifest.deleteByKeys(spark, root, Seq(2L, 3L).toDF("id"))
    assert(v2 == 2L)
    // ZERO data files rewritten: v2 carries v1's files byte-identical
    assert(Manifest.snapshot(spark, root, 2L).files.toSet == before)
    assert(Manifest.snapshotMeta(spark, root, 2L).deletes.nonEmpty)
    assert(rowsOf(root) == Set((1L, "a", 10), (4L, "c", 40)))
    // pinned pre-delete snapshot still holds every row
    assert(rowsOf(root, Some(1L)).size == 4)
    // delete-then-reinsert: the NEW row with an old key is visible
    // (delete files apply only to data files with a smaller sequence)
    Manifest.commitAppend(spark, root,
      Seq((2L, "a", 99)).toDF("id", "part", "v"), Seq("part"))
    assert(rowsOf(root) ==
      Set((1L, "a", 10), (4L, "c", 40), (2L, "a", 99)))
    // an empty key set is a no-op commit
    assert(Manifest.deleteByKeys(spark, root,
      spark.emptyDataset[Long].toDF("id")) == 3L)
  }

  test("deleteByKeys: multi-column and NULL keys delete null-safely") {
    val root = newRoot()
    Manifest.init(spark, root,
      Seq((1L, Some("a"), 10), (1L, Some("b"), 20), (2L, None, 30),
        (3L, Some("a"), 40))
        .toDF("id", "part", "v"), Nil)
    Manifest.deleteByKeys(spark, root,
      Seq((1L, Some("a")), (2L, Option.empty[String]))
        .toDF("id", "part"))
    assert(Manifest.read(spark, root, None)
      .select("id", "part", "v").as[(Long, Option[String], Int)]
      .collect().toSet ==
      Set((1L, Some("b"), 20), (3L, Some("a"), 40)))
    // unknown key columns fail loudly
    intercept[Exception](
      Manifest.deleteByKeys(spark, root, Seq(1L).toDF("nope")))
  }

  test("rewriteDeletes materializes: delete entries dropped, content " +
    "identical, delete-free files carried by reference") {
    val root = newRoot()
    Manifest.init(spark, root,
      Seq((1L, "a", 10), (2L, "a", 20), (3L, "b", 30))
        .toDF("id", "part", "v"), Seq("part"))
    Manifest.deleteByKeys(spark, root, Seq(2L).toDF("id"))
    // post-delete append: no delete applies to it → carried by reference
    Manifest.commitAppend(spark, root,
      Seq((5L, "c", 50)).toDF("id", "part", "v"), Seq("part"))
    val exempt = Manifest.snapshot(spark, root, 3L).files
      .filter(_.contains("part=c/")).toSet
    val contentBefore = rowsOf(root)
    val v = Manifest.rewriteDeletes(spark, root)
    val m = Manifest.snapshotMeta(spark, root, v)
    assert(m.deletes.isEmpty)
    assert(rowsOf(root) == contentBefore)
    assert(exempt.subsetOf(m.files.toSet),
      "files with no applicable delete must carry by reference")
    // idempotent: nothing pending → same version back
    assert(Manifest.rewriteDeletes(spark, root) == v)
  }

  test("rewriteDeletes rewrites ONLY files that can hold a deleted key " +
    "(zone-map narrowing); the rest carry by reference") {
    val root = newRoot()
    // 4 files with disjoint id ranges → zone maps decide presence
    Manifest.init(spark, root,
      (0L until 40L).map(i => (i, s"p${i / 10}", i.toInt))
        .toDF("id", "part", "v"), Seq("part"))
    val before = Manifest.snapshotMeta(spark, root, 1L).files.toSet
    Manifest.deleteByKeys(spark, root, Seq(13L, 17L).toDF("id"))
    val v = Manifest.rewriteDeletes(spark, root)
    val after = Manifest.snapshotMeta(spark, root, v)
    assert(after.deletes.isEmpty)
    val carried = before & after.files.toSet
    assert(carried == before.filterNot(_.contains("part=p1/")),
      s"exactly the ids-10..19 files should rewrite; carried=$carried")
    assert(rowsOf(root) == (0L until 40L)
      .filterNot(i => i == 13L || i == 17L)
      .map(i => (i, s"p${i / 10}", i.toInt)).toSet)
  }

  test("rewriteDeletes with no present key is metadata-only: every " +
    "data file carries by reference, delete entries drop") {
    val root = newRoot()
    Manifest.init(spark, root,
      Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "part", "v"),
      Seq("part"))
    val before = Manifest.snapshotMeta(spark, root, 1L).files.toSet
    Manifest.deleteByKeys(spark, root, Seq(99L).toDF("id"))
    val v = Manifest.rewriteDeletes(spark, root)
    val after = Manifest.snapshotMeta(spark, root, v)
    assert(after.deletes.isEmpty)
    assert(after.files.toSet == before)
    assert(rowsOf(root) == Set((1L, "a", 10), (2L, "b", 20)))
  }

  test("CHECK constraints gate append/merge/stage: violations refuse " +
    "BEFORE publishing, NULL passes, drop lifts the gate") {
    val root = newRoot()
    Manifest.init(spark, root,
      Seq((1L, "a", 10)).toDF("id", "part", "v"), Seq("part"))
    Manifest.addConstraint(spark, root, "v_pos",
      "v >= 0 AND id IS NOT NULL")
    assert(Manifest.constraintsOf(spark, root) ==
      Map("v_pos" -> "v >= 0 AND id IS NOT NULL"))
    // clean append passes
    Manifest.commitAppend(spark, root,
      Seq((2L, "b", 20)).toDF("id", "part", "v"), Seq("part"))
    // violating append refused; nothing published
    val before = Manifest.latestVersion(spark, root).get
    intercept[Manifest.ConstraintViolationException] {
      Manifest.commitAppend(spark, root,
        Seq((3L, "b", -5)).toDF("id", "part", "v"), Seq("part"))
    }
    assert(Manifest.latestVersion(spark, root).get == before)
    assert(rowsOf(root) == Set((1L, "a", 10), (2L, "b", 20)))
    // merge post-image violating → refused
    intercept[Manifest.ConstraintViolationException] {
      Manifest.mergeInto(spark, root,
        Seq((2L, "b", -1)).toDF("id", "part", "v"), "id", "part")
    }
    // staged WAP write violating → refused at stage time
    intercept[Manifest.ConstraintViolationException] {
      Manifest.stageAppend(spark, root,
        Seq((9L, "z", -9)).toDF("id", "part", "v"), "bad-stage",
        Seq("part"))
    }
    // NULL passes (SQL CHECK semantics)
    Manifest.commitAppend(spark, root,
      Seq((4L, "c", Option.empty[Int])).toDF("id", "part", "v"),
      Seq("part"))
    assert(Manifest.read(spark, root).count() == 3L)
    // adding a constraint the EXISTING rows violate is refused
    intercept[Manifest.ConstraintViolationException] {
      Manifest.addConstraint(spark, root, "impossible", "v > 1000")
    }
    // drop lifts the gate; unknown drop is false
    assert(Manifest.dropConstraint(spark, root, "v_pos"))
    assert(!Manifest.dropConstraint(spark, root, "v_pos"))
    Manifest.commitAppend(spark, root,
      Seq((5L, "b", -5)).toDF("id", "part", "v"), Seq("part"))
    assert(Manifest.read(spark, root).count() == 4L)
  }

  test("CHECK constraints on columns an evolved append lacks read as " +
    "NULL and pass — matching what the table's reader sees") {
    val root = newRoot()
    Manifest.init(spark, root,
      Seq((1L, "a", 10)).toDF("id", "part", "v"), Seq("part"))
    Manifest.addConstraint(spark, root, "v_pos", "v >= 0")
    // narrower frame (no v column): stored rows read v NULL → passes
    Manifest.commitAppend(spark, root,
      Seq((2L, "b")).toDF("id", "part"), Seq("part"))
    assert(Manifest.read(spark, root).count() == 2L)
  }

  test("bloom sidecars narrow rewriteDeletes where zone maps cannot " +
    "(unclustered key: every file's envelope spans the domain)") {
    val root = newRoot()
    // ids interleaved mod 4 across parts → each file's id min/max
    // covers nearly the whole domain, zone maps prune nothing
    Manifest.init(spark, root,
      (0L until 40L).map(i => (i, s"p${i % 4}", i.toInt))
        .toDF("id", "part", "v"), Seq("part"))
    graft.sources.ManifestBlooms.build(spark, root, Seq("id"))
    val cur = Manifest.latestVersion(spark, root).get
    val before = Manifest.snapshotMeta(spark, root, cur).files.toSet
    Manifest.deleteByKeys(spark, root, Seq(12L).toDF("id")) // p0 only
    val v = Manifest.rewriteDeletes(spark, root)
    val after = Manifest.snapshotMeta(spark, root, v)
    assert(after.deletes.isEmpty)
    // blooms are file-precise: of p0's several files, only the ONE
    // actually holding id=12 rewrites; every other file (p0's siblings
    // included) carries by reference
    val rewritten = before -- after.files.toSet
    assert(rewritten.size == 1 && rewritten.head.contains("part=p0/"),
      s"only the single file holding id=12 should rewrite: $rewritten")
    assert(rowsOf(root) == (0L until 40L).filterNot(_ == 12L)
      .map(i => (i, s"p${i % 4}", i.toInt)).toSet)
  }

  test("compact under pending deletes never resurrects deleted rows; " +
    "vacuum keeps live delete files") {
    val root = newRoot()
    Manifest.init(spark, root,
      Seq((1L, "a", 10), (2L, "a", 20)).toDF("id", "part", "v"),
      Seq("part"))
    Manifest.commitAppend(spark, root,
      Seq((3L, "a", 30)).toDF("id", "part", "v"), Seq("part"))
    Manifest.deleteByKeys(spark, root, Seq(2L).toDF("id"))
    val v = Manifest.compact(spark, root,
      smallBytes = 1L << 30, targetBytes = 1L << 30)
    assert(rowsOf(root, Some(v)) == Set((1L, "a", 10), (3L, "a", 30)))
    // vacuum to the latest-only window: reads stay correct (no live
    // delete file was reclaimed)
    Manifest.vacuum(spark, root, keepVersions = 1)
    assert(rowsOf(root) == Set((1L, "a", 10), (3L, "a", 30)))
  }

  test("change feed refuses to cross a merge-on-read delete commit") {
    val root = newRoot()
    Manifest.init(spark, root,
      Seq((1L, "a", 10)).toDF("id", "part", "v"), Seq("part"))
    Manifest.commitAppend(spark, root,
      Seq((2L, "a", 20)).toDF("id", "part", "v"), Seq("part"))
    Manifest.deleteByKeys(spark, root, Seq(1L).toDF("id"))
    Manifest.commitAppend(spark, root,
      Seq((3L, "b", 30)).toDF("id", "part", "v"), Seq("part"))
    // v1..v2 predates the delete: fine
    assert(Manifest.readChanges(spark, root, 1L, Some(2L)).count() == 1L)
    // v3..v4 postdates it: fine
    assert(Manifest.readChanges(spark, root, 3L, Some(4L)).count() == 1L)
    // any range crossing v3 fails loudly instead of missing retractions
    val e = intercept[IllegalArgumentException](
      Manifest.readChanges(spark, root, 2L, Some(4L)))
    assert(e.getMessage.contains("merge-on-read"))
  }

  test("tags: named refs resolve, survive retention, release on drop") {
    val root = newRoot()
    Manifest.init(spark, root,
      Seq((1L, "a", 10)).toDF("id", "part", "v"), Seq("part"))
    Manifest.commitReplace(spark, root,
      Seq((2L, "b", 20)).toDF("id", "part", "v"), Seq("part"))
    Manifest.commitReplace(spark, root,
      Seq((3L, "c", 30)).toDF("id", "part", "v"), Seq("part"))
    Manifest.tag(spark, root, "audit", 2L)
    assert(Manifest.resolveVersion(spark, root, "audit") == 2L)
    assert(Manifest.resolveVersion(spark, root, "3") == 3L)
    assert(rowsOf(root, Some(2L)) == Set((2L, "b", 20)))
    // retention keeps the tagged snapshot even outside the window
    Manifest.vacuum(spark, root, keepVersions = 1)
    assert(Manifest.versions(spark, root).contains(2L))
    assert(rowsOf(root, Some(2L)) == Set((2L, "b", 20)))
    assert(!Manifest.versions(spark, root).contains(1L))
    // reader option resolves the tag through the connector too
    assert(spark.read.format("graft-manifest")
      .option("version", "audit").load(root)
      .select("id").as[Long].head == 2L)
    // drop releases it; the next vacuum reclaims
    assert(Manifest.dropTag(spark, root, "audit"))
    Manifest.vacuum(spark, root, keepVersions = 1)
    assert(Manifest.versions(spark, root) == Seq(3L))
    intercept[Exception](Manifest.resolveVersion(spark, root, "audit"))
    intercept[Exception](Manifest.tag(spark, root, "x", 99L))
  }

  test("compact preserves a recorded z-order: the merged append tail " +
    "re-sorts by the morton key and zone maps keep skipping") {
    val root = newRoot()
    val df = spark.range(0, 4096)
      .select(col("id").as("x"), (col("id") * 37 % 4096).as("y"),
        (col("id") % 97).as("v"))
      .repartitionByRange(8, col("x"))
    Manifest.init(spark, root, df)
    Manifest.zorder(spark, root, "x", "y", targetBytes = 8L * 1024)
    // unclustered append tail: four tiny arrival-order batches whose
    // x AND y envelopes each span the whole domain
    for (k <- 0 until 4)
      Manifest.commitAppend(spark, root,
        spark.range(0, 512)
          .select((col("id") * 8 + k).as("x"),
            ((col("id") * 8 + k) * 37 % 4096).as("y"),
            lit(k.toLong).as("v"))
          .coalesce(1))
    def planned(probe: org.apache.spark.sql.DataFrame): Long =
      ScanFiles.planned(probe)
    val content = Manifest.read(spark, root, None)
      .as[(Long, Long, Long)].collect().toSeq.sorted
    val v = Manifest.compact(spark, root,
      smallBytes = 1L << 30, targetBytes = 8L * 1024)
    assert(Manifest.read(spark, root, None)
      .as[(Long, Long, Long)].collect().toSeq.sorted == content)
    val files = Manifest.snapshot(spark, root, v).files.size
    assert(files > 2, s"need >2 files to prove skipping, got $files")
    // the compacted layout must skip on BOTH z dimensions — the
    // zorder.cols header made the bin-pack a clustering restore
    val px = planned(Manifest.read(spark, root, None)
      .filter(col("x") === 2000L))
    val py = planned(Manifest.read(spark, root, None)
      .filter(col("y") === 2000L))
    assert(px < files && py < files,
      s"compact lost the z-order clustering: x=$px y=$py of $files")
  }

  test("zorder: rewrite clusters both dimensions — zone maps skip " +
    "files on either column; content identical; deletes materialize") {
    val root = newRoot()
    // y decorrelated from x (odd multiplier mod 2^12): an x-range
    // layout is tight on x and FULL-RANGE on y in every file — the
    // case z-order exists to fix (y = 4095 - x would be tight on both)
    val df = spark.range(0, 4096)
      .select(col("id").as("x"), (col("id") * 37 % 4096).as("y"),
        (col("id") % 97).as("v"))
      .repartitionByRange(8, col("x"))
    Manifest.init(spark, root, df)
    def planned(probe: org.apache.spark.sql.DataFrame): Long =
      ScanFiles.planned(probe)
    // pre-zorder: a y point-filter cannot skip (every file spans all y)
    assert(planned(Manifest.read(spark, root, None)
      .filter(col("y") === 2000L)) == 8L)
    val before = Manifest.read(spark, root, None)
      .as[(Long, Long, Long)].collect().toSet
    val v = Manifest.zorder(spark, root, "x", "y",
      targetBytes = 8L * 1024)
    assert(Manifest.read(spark, root, None)
      .as[(Long, Long, Long)].collect().toSet == before)
    val files = Manifest.snapshot(spark, root, v).files.size
    assert(files > 2, s"need >2 files to prove skipping, got $files")
    // post-zorder: point filters on EITHER dimension skip most files
    val px = planned(Manifest.read(spark, root, None)
      .filter(col("x") === 2000L))
    val py = planned(Manifest.read(spark, root, None)
      .filter(col("y") === 2000L))
    assert(px < files && py < files,
      s"zone maps did not skip after zorder: x=$px y=$py of $files")
    // guards: partition / non-integral / unknown columns fail loudly
    intercept[IllegalArgumentException](
      Manifest.zorder(spark, root, "x", "nope"))
    val root2 = newRoot()
    Manifest.init(spark, root2,
      Seq((1L, "a", 10L)).toDF("x", "part", "y"), Seq("part"))
    intercept[IllegalArgumentException](
      Manifest.zorder(spark, root2, "x", "part"))
    // pending MoR deletes materialize: post-zorder manifest has none
    val root3 = newRoot()
    Manifest.init(spark, root3,
      spark.range(0, 100).select(col("id"), col("id").as("y")))
    Manifest.deleteByKeys(spark, root3,
      spark.range(0, 10).select(col("id")))
    val v3 = Manifest.zorder(spark, root3, "id", "y")
    assert(Manifest.snapshotMeta(spark, root3, v3).deletes.isEmpty)
    assert(Manifest.read(spark, root3, None).count() == 90L)
  }

  test("zorderBy with a partition spec rewrites ONLY that partition; " +
    "other partitions and pending deletes carry by reference") {
    val root = newRoot()
    val df = spark.range(0, 2048).select(
      (col("id") % 2).cast("string").as("part"),
      col("id").as("x"), (col("id") * 37 % 2048).as("y"))
      .repartitionByRange(4, col("x"))
    Manifest.init(spark, root, df.select("x", "y", "part"), Seq("part"))
    Manifest.deleteByKeys(spark, root, Seq(0L, 1L).toDF("x"))   // v2
    val before = Manifest.snapshot(spark, root, 2L).files
    val untouched = before.filter(_.contains("part=1/")).toSet
    val v = Manifest.zorderBy(spark, root, Seq("x", "y"),
      targetBytes = 8L * 1024, partitionSpec = Map("part" -> "0"))
    val after = Manifest.snapshot(spark, root, v).files
    // partition 1's files are byte-identical carries
    assert(after.filter(_.contains("part=1/")).toSet == untouched)
    // partition 0 was rewritten
    assert(after.filter(_.contains("part=0/"))
      .forall(f => !before.contains(f)))
    // deletes stayed correct on BOTH sides: x=0 (part 0, rewritten —
    // materialized) and x=1 (part 1, carried — delete file still live)
    assert(Manifest.read(spark, root, None).count() == 2046L)
    assert(Manifest.read(spark, root, None)
      .filter(col("x") < 2L).count() == 0L)
    assert(Manifest.snapshotMeta(spark, root, v).deletes.nonEmpty)
    // unknown partition values / columns fail loudly
    intercept[IllegalArgumentException](Manifest.zorderBy(spark, root,
      Seq("x", "y"), partitionSpec = Map("part" -> "9")))
    intercept[IllegalArgumentException](Manifest.zorderBy(spark, root,
      Seq("x", "y"), partitionSpec = Map("nope" -> "0")))
  }

  test("zorderBy: three dimensions — zone maps skip on each; content " +
    "identical") {
    val root = newRoot()
    // three mutually decorrelated dims over 0..4095
    val df = spark.range(0, 4096).select(
      col("id").as("x"),
      (col("id") * 37 % 4096).as("y"),
      (col("id") * 1423 % 4096).as("z"))
      .repartitionByRange(8, col("x"))
    Manifest.init(spark, root, df)
    val before = Manifest.read(spark, root, None)
      .as[(Long, Long, Long)].collect().toSet
    val v = Manifest.zorderBy(spark, root, Seq("x", "y", "z"),
      targetBytes = 4L * 1024)
    assert(Manifest.read(spark, root, None)
      .as[(Long, Long, Long)].collect().toSet == before)
    val files = Manifest.snapshot(spark, root, v).files.size
    assert(files > 7, s"need >7 files, got $files")
    def planned(c: String): Long = {
      // an extreme value: files rank-straddling a high-bit flip keep
      // wide envelopes, so probe the low end, which only the lowest
      // z-region files can contain
      ScanFiles.planned(Manifest.read(spark, root, None)
        .filter(col(c) === 100L))
    }
    for (c <- Seq("x", "y", "z"))
      assert(planned(c) < files,
        s"no skip on $c: ${planned(c)} of $files")
  }

  test("clustered writes co-locate partition values: O(values) files " +
    "instead of O(tasks × values); content identical") {
    val root = newRoot()
    // 8 input tasks × 3 partition values → up to 24 files unclustered
    val df = spark.range(0, 240, 1, 8)
      .selectExpr("id", "concat('p', id % 3) AS part", "id * 2 AS v")
    Manifest.init(spark, root, df.repartition(col("part")), Seq("part"))
    val files = Manifest.snapshot(spark, root, 1L).files
    assert(files.size <= 3, s"expected ≤ 3 clustered files: $files")
    assert(Manifest.read(spark, root, None).count() == 240L)
    // unclustered control: same frame fans out into many more files
    val root2 = newRoot()
    Manifest.init(spark, root2, df, Seq("part"))
    assert(Manifest.snapshot(spark, root2, 1L).files.size > 3)
  }

  test("bloom columns: commits write parquet bloom filters that " +
    "point-lookup row-group skipping can use") {
    val warehouse = "file://" + java.nio.file.Files
      .createTempDirectory("graft-bloom").toString
    val root = newRoot()
    val sqlRoot = s"$warehouse/db/b"
    // high-cardinality key → dictionary overflows, bloom gets written
    val df = spark.range(0, 20000)
      .selectExpr("id", "concat('k', id, '-', id * 31) AS name")
    spark.conf.set("spark.sql.catalog.bloomsql",
      classOf[graft.sources.connector.ManifestCatalog].getName)
    spark.conf.set("spark.sql.catalog.bloomsql.root", warehouse)
    spark.sql("CREATE TABLE bloomsql.db.b (id BIGINT, name STRING)")
    df.createOrReplaceTempView("bloom_src")
    spark.conf.set("spark.graft.parquet.bloom.columns", "name")
    try {
      Manifest.init(spark, root, df, Nil)
      spark.sql("INSERT INTO bloomsql.db.b SELECT * FROM bloom_src")
    } finally spark.conf.unset("spark.graft.parquet.bloom.columns")
    for (r <- Seq(root, sqlRoot)) {
      val file = Manifest.snapshot(spark, r,
        Manifest.latestVersion(spark, r).get).files.head
      val p = new org.apache.hadoop.fs.Path(s"$r/$file")
      val conf = spark.sparkContext.hadoopConfiguration
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
      try {
        val block = reader.getRowGroups.get(0)
        val nameChunk = block.getColumns.asScala
          .find(_.getPath.toDotString == "name").get
        assert(reader.getBloomFilterDataReader(block)
          .readBloomFilter(nameChunk) != null,
          s"bloom filter missing from the footer of $r")
      } finally reader.close()
      // correctness is untouched
      assert(Manifest.read(spark, r, None)
        .filter(col("name") === "k7-217").count() == 1L)
    }
  }

  test("expireSnapshots: age-based retention off the same commit " +
    "clocks TIMESTAMP AS OF reads; newest always survives") {
    val root = newRoot()
    Manifest.init(spark, root,
      Seq((1L, "a", 10)).toDF("id", "part", "v"), Seq("part"))
    val ts1 = Manifest.snapshotMeta(spark, root, 1L).ts.get
    while (System.currentTimeMillis() <= ts1) Thread.sleep(1)
    Manifest.commitReplace(spark, root,
      Seq((2L, "b", 20)).toDF("id", "part", "v"), Seq("part"))
    val ts2 = Manifest.snapshotMeta(spark, root, 2L).ts.get
    // cutoff strictly between the two commits: v1 expires, v2 stays
    val removed = Manifest.expireSnapshots(spark, root, ts1 + 1)
    assert(removed.nonEmpty, "v1's replaced file should be reclaimed")
    assert(Manifest.versions(spark, root) == Seq(2L))
    assert(rowsOf(root) == Set((2L, "b", 20)))
    intercept[Exception](Manifest.read(spark, root, Some(1L)).collect())
    // a timestamp inside the retention window still resolves
    assert(Manifest.versionAt(spark, root, ts2) == 2L)
    // keepLast floors the drop even with an expire-everything cutoff
    assert(Manifest.expireSnapshots(spark, root,
      System.currentTimeMillis() + 1000000L).isEmpty)
    assert(Manifest.versions(spark, root) == Seq(2L))
  }

  test("rollback: new head equals the target snapshot by reference; " +
    "history preserved and the rollback itself is undoable") {
    val root = newRoot()
    Manifest.init(spark, root,
      Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "part", "v"),
      Seq("part"))
    Manifest.commitAppend(spark, root,
      Seq((3L, "a", 30)).toDF("id", "part", "v"), Seq("part"))
    // v3 carries a pending merge-on-read delete
    Manifest.deleteByKeys(spark, root, Seq(2L).toDF("id"))
    Manifest.commitAppend(spark, root,
      Seq((4L, "b", 40)).toDF("id", "part", "v"), Seq("part"))
    val headRows = rowsOf(root)
    assert(headRows == Set((1L, "a", 10), (3L, "a", 30), (4L, "b", 40)))

    // roll back to v2 (before the delete): content restored, the new
    // head re-references v2's files — zero data IO
    val v5 = Manifest.rollback(spark, root, 2L)
    assert(v5 == 5L)
    assert(rowsOf(root) ==
      Set((1L, "a", 10), (2L, "b", 20), (3L, "a", 30)))
    val m2 = Manifest.snapshotMeta(spark, root, 2L)
    val m5 = Manifest.snapshotMeta(spark, root, 5L)
    assert(m5.files.toSet == m2.files.toSet)
    assert(m5.deletes.isEmpty)
    assert(m5.meta.get("rollback-of").contains("2"))

    // rolling back ONTO a snapshot with pending deletes keeps them
    Manifest.rollback(spark, root, 3L)
    assert(rowsOf(root) == Set((1L, "a", 10), (3L, "a", 30)))
    assert(Manifest.snapshotMeta(spark, root, 6L).deletes.nonEmpty)

    // the abandoned commits stay time-travelable → undo the rollback
    assert(rowsOf(root, Some(4L)) == headRows)
    Manifest.rollback(spark, root, 4L)
    assert(rowsOf(root) == headRows)

    // retention after rollback keeps the re-referenced files live
    assert(Manifest.vacuum(spark, root).isEmpty)
    assert(rowsOf(root) == headRows)

    // head and unknown targets are refused
    intercept[IllegalArgumentException](
      Manifest.rollback(spark, root, 7L))
    intercept[IllegalArgumentException](
      Manifest.rollback(spark, root, 0L))
  }

  test("copy-on-write merge on top of pending deletes: touched " +
    "partition materializes, untouched keeps the delete applied") {
    val root = newRoot()
    Manifest.init(spark, root,
      Seq((1L, "a", 10), (2L, "a", 20), (3L, "b", 30), (4L, "b", 40))
        .toDF("id", "part", "v"), Seq("part"))
    Manifest.deleteByKeys(spark, root, Seq(2L, 4L).toDF("id"))
    // merge touches partition a only
    Manifest.mergeInto(spark, root,
      Seq((1L, "a", 11)).toDF("id", "part", "v"), "id", "part")
    // a: rewritten deletes-applied + update; b: carried, delete applies
    assert(rowsOf(root) == Set((1L, "a", 11), (3L, "b", 30)))
    // the rewritten partition's files are exempt going forward, the
    // carried delete entry still guards partition b
    assert(Manifest.snapshotMeta(spark, root, 3L).deletes.nonEmpty)
  }

  test("branches: fork, commit to the fork, main untouched, " +
    "fast-forward merges, drop reclaims only branch-owned files") {
    val root = newRoot()
    Manifest.init(spark, root, Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    Manifest.commitAppend(spark, root, Seq((3L, "c")).toDF("id", "s"))
    // fork at head (v2); the fork shares files by reference
    assert(Manifest.createBranch(spark, root, "exp") == 2L)
    assert(Manifest.branches(spark, root) == Map("exp" -> 2L))
    // two branch commits; main chain must not move
    Manifest.commitAppendBranch(spark, root, "exp",
      Seq((4L, "d")).toDF("id", "s"))
    Manifest.commitAppendBranch(spark, root, "exp",
      Seq((5L, "e")).toDF("id", "s"))
    assert(Manifest.latestVersion(spark, root).contains(2L))
    assert(Manifest.branchHead(spark, root, "exp") == 4L)
    assert(Manifest.readBranch(spark, root, "exp")
      .as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e")))
    assert(Manifest.read(spark, root)
      .as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    // connector read of the branch head
    assert(spark.read.format("graft-manifest")
      .option("branch", "exp").load(root).count() == 5L)
    // fast-forward: main squashes to the branch head as one commit
    assert(Manifest.fastForward(spark, root, "exp") == 3L)
    assert(Manifest.read(spark, root).count() == 5L)
    // after the merge the branch's files are on the chain: drop
    // deletes manifests only, zero data files
    assert(Manifest.dropBranch(spark, root, "exp").isEmpty)
    assert(Manifest.branches(spark, root).isEmpty)
    assert(Manifest.read(spark, root).count() == 5L)
  }

  test("branches: divergence fences the fast-forward; dropped " +
    "unmerged branches reclaim their own files; vacuum keeps " +
    "branch-referenced files alive") {
    val root = newRoot()
    Manifest.init(spark, root, Seq((1L, "a")).toDF("id", "s"))
    Manifest.createBranch(spark, root, "exp")
    Manifest.commitAppendBranch(spark, root, "exp",
      Seq((2L, "b")).toDF("id", "s"))
    // main advances past the fork → merge must refuse
    Manifest.commitAppend(spark, root, Seq((9L, "z")).toDF("id", "s"))
    val e = intercept[IllegalArgumentException](
      Manifest.fastForward(spark, root, "exp"))
    assert(e.getMessage.contains("advanced"), e.getMessage)
    // vacuum on main keeps files the branch still references: the
    // branch head must stay fully readable afterwards
    Manifest.commitAppend(spark, root, Seq((10L, "y")).toDF("id", "s"))
    Manifest.vacuum(spark, root, keepVersions = 1)
    assert(Manifest.readBranch(spark, root, "exp")
      .as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b")))
    // dropping the unmerged branch deletes ONLY its own commit's files
    val dead = Manifest.dropBranch(spark, root, "exp")
    assert(dead.nonEmpty)
    assert(Manifest.read(spark, root)
      .as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (9L, "z"), (10L, "y")))
    // double-create guard and unknown-branch error
    Manifest.createBranch(spark, root, "exp2")
    intercept[IllegalStateException](
      Manifest.createBranch(spark, root, "exp2"))
    intercept[IllegalArgumentException](
      Manifest.branchHead(spark, root, "nope"))
  }

  test("branches: the connector refuses branch+cdc and branch " +
    "streaming — both would resolve main-chain versions") {
    val root = newRoot()
    Manifest.init(spark, root, Seq((1L, "a")).toDF("id", "s"))
    Manifest.createBranch(spark, root, "exp")
    intercept[Exception](spark.read.format("graft-manifest")
      .option("branch", "exp").option("cdc", "true")
      .option("changesFrom", "0").load(root).collect())
    // streaming resolves lazily: the refusal surfaces at query start
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-brs").toString
    val q = spark.readStream.format("graft-manifest")
      .option("branch", "exp").load(root)
      .writeStream.format("noop")
      .option("checkpointLocation", ckpt).start()
    val e = intercept[org.apache.spark.sql.streaming
      .StreamingQueryException](q.awaitTermination())
    assert(e.getMessage.contains("branch"), e.getMessage)
  }
}
