package graft

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.scalacheck.{Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.util.Pretty

import graft.sources.Manifest
import graft.sources.connector.ManifestCatalog

/** Crash-point enumeration of the manifest commit protocols over
  * [[CrashPointFileSystem]]: a clean run counts a commit's file system
  * mutations, then the commit is crashed at every one of them in turn
  * (and once past the last). After each crash:
  *   - a fresh reader (the `graft-manifest` connector, which applies
  *     merge-on-read deletes) sees exactly the old rows or exactly the
  *     new rows;
  *   - re-running the commit where it did not land gives the new rows;
  *   - `removeOrphans` with zero grace leaves no parquet file under
  *     `data/` that no manifest references. */
class ManifestCrashSpec extends SparkSpec {
  import spark.implicits._

  spark.sparkContext.hadoopConfiguration.set("fs.crashfs.impl",
    classOf[CrashPointFileSystem].getName)

  // every table lives under one warehouse, so catalog SQL reaches each
  // fresh root as `crashcat.db.<name>`
  private val warehouse = "crashfs://" + java.nio.file.Files
    .createTempDirectory("graft-crash").toString
  spark.conf.set("spark.sql.catalog.crashcat",
    classOf[ManifestCatalog].getName)
  spark.conf.set("spark.sql.catalog.crashcat.root", warehouse)

  private val tables = new java.util.concurrent.atomic.AtomicInteger
  private def newRoot() = s"$warehouse/db/t${tables.incrementAndGet()}"

  private def rows(xs: (Long, String, Long)*): DataFrame =
    xs.toDF("id", "part", "v").coalesce(1)

  private val old = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "a", 30L),
    (4L, "c", 40L), (5L, "b", 50L))

  private def init(root: String): Unit =
    Manifest.init(spark, root, rows(old: _*), Seq("part"))

  private def seen(root: String): Set[Row] =
    spark.read.format("graft-manifest").load(root)
      .select("id", "part", "v").collect().toSet

  private def asRows(xs: Seq[(Long, String, Long)]): Set[Row] =
    xs.map { case (i, p, v) => Row(i, p, v) }.toSet

  /** Wait out tasks of a failed job that are still being killed, so no
    * straggler writes after the checks below have looked. */
  private def quiesce(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    while (spark.sparkContext.statusTracker.getExecutorInfos
        .map(_.numRunningTasks).sum > 0 &&
        System.currentTimeMillis() < deadline) Thread.sleep(10)
  }

  /** Parquet files under `data/` that no manifest references. */
  private def unreferenced(root: String): Set[String] = {
    val (fs, rootP) = Manifest.fsOf(spark, root)
    val rootUri = rootP.toUri.getPath
    val referenced = Manifest.versions(spark, root).flatMap { v =>
      val m = Manifest.snapshotMeta(spark, root, v)
      m.files ++ m.deletes.map(_.path)
    }.toSet
    val out = Set.newBuilder[String]
    val data = new Path(s"$root/data")
    if (fs.exists(data)) {
      val it = fs.listFiles(data, true)
      while (it.hasNext) {
        val rel = it.next().getPath.toUri.getPath.stripPrefix(rootUri)
          .stripPrefix("/")
        if (rel.endsWith(".parquet") && !referenced(rel)) out += rel
      }
    }
    out.result()
  }

  /** The three-part property at crash point `n` of `commit`, run on a
    * fresh table holding `old` and whatever `setup` committed on top. */
  private def atCrash(n: Long, newRows: Set[Row], setup: String => Unit,
                      commit: String => Unit): Prop = {
    val root = newRoot()
    init(root)
    setup(root)
    val oldRows = seen(root)
    CrashPointFileSystem.crashAfter(n)
    try commit(root)
    catch { case NonFatal(_) => () }
    finally CrashPointFileSystem.reset()
    quiesce()
    val after = seen(root)
    val atomic = after == oldRows || after == newRows
    if (after == oldRows) commit(root)
    val converged = seen(root) == newRows
    Thread.sleep(5) // orphans must be strictly older than the cutoff
    Manifest.removeOrphans(spark, root, graceMillis = 0L)
    val left = unreferenced(root)
    (atomic :| s"crash after $n mutations: reader saw $after") &&
      (converged :| s"crash after $n mutations: retry did not converge") &&
      (left.isEmpty :| s"crash after $n mutations: orphans $left")
  }

  /** Count `commit`'s mutations on a clean run, then check every crash
    * point from before the first mutation to past the last. */
  private def crashPoints(newRows: Set[Row],
                          setup: String => Unit = _ => ())(
                          commit: String => Unit): Unit = {
    val probe = newRoot()
    init(probe)
    setup(probe)
    val m0 = CrashPointFileSystem.mutations
    commit(probe)
    val total = CrashPointFileSystem.mutations - m0
    assert(total > 0)
    assert(seen(probe) == newRows)
    info(s"$total mutations, ${total + 1} crash points")
    val prop = Prop.all((0L to total).map(n =>
      Prop.delay(atCrash(n, newRows, setup, commit))): _*)
    val res = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(1).withWorkers(1), prop)
    res.status match {
      case Test.PropException(_, e, _) => throw e
      case _ => assert(res.passed, Pretty.pretty(res))
    }
  }

  test("commitAppend: every crash point is atomic, retryable, vacuumable") {
    val add = Seq((6L, "a", 60L), (7L, "d", 70L))
    crashPoints(asRows(old ++ add)) { root =>
      Manifest.commitAppend(spark, root, rows(add: _*), Seq("part"))
    }
  }

  test("deleteByKeys: every crash point is atomic, retryable, vacuumable") {
    crashPoints(asRows(old.filterNot(r => r._1 == 2L || r._1 == 3L))) {
      root =>
        Manifest.deleteByKeys(spark, root, Seq(2L, 3L).toDF("id"))
    }
  }

  test("connector INSERT: every crash point is atomic, retryable, " +
    "vacuumable") {
    val add = Seq((8L, "b", 80L), (9L, "e", 90L))
    crashPoints(asRows(old ++ add)) { root =>
      rows(add: _*).write.format("graft-manifest").mode("append")
        .save(root)
    }
  }

  test("mergeInto: every crash point is atomic, retryable, vacuumable") {
    val upd = Seq((2L, "b", 200L), (8L, "a", 80L))
    crashPoints(asRows(old.filterNot(_._1 == 2L) ++ upd)) { root =>
      Manifest.mergeInto(spark, root, rows(upd: _*), "id", "part")
    }
  }

  test("deleteWhere: every crash point is atomic, retryable, vacuumable") {
    crashPoints(asRows(old.filter(_._3 < 40L))) { root =>
      Manifest.deleteWhere(spark, root,
        org.apache.spark.sql.functions.col("v") >= 40L, "part")
    }
  }

  // SQL MERGE plans a copy-on-write rewrite of the touched files and
  // commits it through Manifest.commitRewrite
  test("SQL MERGE: every crash point is atomic, retryable, vacuumable") {
    Seq((2L, "b", 21L), (3L, "a", -1L), (6L, "d", 60L)).toDF("id", "part", "v")
      .createOrReplaceTempView("crash_src")
    crashPoints(asRows(old.filterNot(r => r._1 == 2L || r._1 == 3L) ++
        Seq((2L, "b", 21L), (6L, "d", 60L)))) { root =>
      spark.sql(s"""MERGE INTO crashcat.db.${root.split('/').last} t
        |USING crash_src s ON t.id = s.id
        |WHEN MATCHED AND s.v < 0 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
  }

  // a pending merge-on-read delete under compaction: a crash that left
  // the delete file or the rewrite half visible shows a deleted row
  test("compact: every crash point is atomic, retryable, vacuumable") {
    crashPoints(asRows(old.filterNot(_._1 == 2L)),
      root => Manifest.deleteByKeys(spark, root, Seq(2L).toDF("id"))) {
      root => Manifest.compact(spark, root)
    }
  }

  test("rewriteDeletes: every crash point is atomic, retryable, " +
    "vacuumable") {
    crashPoints(asRows(old.filterNot(r => r._1 == 2L || r._1 == 3L)),
      root => Manifest.deleteByKeys(spark, root, Seq(2L, 3L).toDF("id"))) {
      root => Manifest.rewriteDeletes(spark, root)
    }
  }
}
