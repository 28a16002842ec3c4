package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.Manifest

/** Manifest tables as a Structured Streaming SOURCE: versions are
  * offsets, each micro-batch is the file-level change feed between two
  * snapshots, checkpoints make restarts consume exactly the commits
  * that landed in between. */
class ManifestStreamSpec extends SparkSpec {
  import spark.implicits._

  private def newDir() = "file://" + java.nio.file.Files
    .createTempDirectory("graft-mstream").toString

  test("streaming source: first run replays the snapshot; restarts " +
    "from the checkpoint consume only new commits; merges re-emit " +
    "the rewritten partition's post-image") {
    val root = newDir() + "/t"
    Manifest.init(spark, root,
      Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "part", "v"),
      Seq("part"))
    val ckpt = newDir() + "/ckpt"
    def runOnce(): Set[(Long, String, Int)] = {
      // memory sink cannot recover from a checkpoint; foreachBatch can
      val got = scala.collection.mutable.Set.empty[(Long, String, Int)]
      val q = spark.readStream.format("graft-manifest").load(root)
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          got.synchronized {
            got ++= df.select("id", "part", "v")
              .as[(Long, String, Int)](
                org.apache.spark.sql.Encoders.product[(Long, String, Int)])
              .collect()
          }; ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      got.toSet
    }
    // first run: the whole current snapshot (version 0 → latest)
    assert(runOnce() == Set((1L, "a", 10), (2L, "b", 20)))
    // two commits land while the stream is down
    Manifest.commitAppend(spark, root,
      Seq((3L, "a", 30)).toDF("id", "part", "v"), Seq("part"))
    Manifest.commitAppend(spark, root,
      Seq((4L, "c", 40)).toDF("id", "part", "v"), Seq("part"))
    // restart from the checkpoint: exactly the delta, nothing replayed
    assert(runOnce() == Set((3L, "a", 30), (4L, "c", 40)))
    // nothing new: an empty run, not a crash and not a replay
    assert(runOnce() == Set.empty)
    // copy-on-write merge of id 1: the feed re-emits the post-image of
    // the one rewritten file (v1's part=a file); the other part=a file
    // and untouched b and c never reappear
    Manifest.mergeInto(spark, root,
      Seq((1L, "a", 99)).toDF("id", "part", "v"), "id", "part")
    assert(runOnce() == Set((1L, "a", 99)))
  }

  test("startingVersion / startingTimestamp position a fresh stream; " +
    "'latest' skips history entirely") {
    val root = newDir() + "/t"
    Manifest.init(spark, root, Seq((1L, "a")).toDF("id", "s"))  // v1
    Manifest.commitAppend(spark, root, Seq((2L, "b")).toDF("id", "s"))
    Thread.sleep(5)
    val betweenV2andV3 = System.currentTimeMillis()
    Thread.sleep(5)
    Manifest.commitAppend(spark, root, Seq((3L, "c")).toDF("id", "s"))
    def runOnce(ckpt: String, opts: Map[String, String]): Set[Long] = {
      val got = scala.collection.mutable.Set.empty[Long]
      val r = spark.readStream.format("graft-manifest")
      val q = opts.foldLeft(r) { case (b, (k, v)) => b.option(k, v) }
        .load(root)
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          got.synchronized {
            got ++= df.select("id").as[Long](
              org.apache.spark.sql.Encoders.scalaLong).collect()
          }; ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      got.toSet
    }
    // begin WITH commit 3
    assert(runOnce(newDir() + "/c1",
      Map("startingVersion" -> "3")) == Set(3L))
    // first commit at-or-after the timestamp is v3
    assert(runOnce(newDir() + "/c2",
      Map("startingTimestamp" -> betweenV2andV3.toString)) == Set(3L))
    // 'latest': nothing replays; the NEXT commit streams
    val latestCkpt = newDir() + "/c3"
    assert(runOnce(latestCkpt,
      Map("startingVersion" -> "latest")) == Set.empty)
    Manifest.commitAppend(spark, root, Seq((4L, "d")).toDF("id", "s"))
    assert(runOnce(latestCkpt,
      Map("startingVersion" -> "latest")) == Set(4L))
    // out-of-range versions fail loudly
    intercept[Exception] {
      val q = spark.readStream.format("graft-manifest")
        .option("startingVersion", "99").load(root)
        .writeStream.format("memory").queryName("sv_bad")
        .option("checkpointLocation", newDir() + "/c4")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
  }

  test("CDC stream: option(cdc) crosses merge-on-read delete commits " +
    "with retraction rows instead of failing; replay is exact") {
    val root = newDir() + "/t"
    Manifest.init(spark, root,
      Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "part", "v"),
      Seq("part"))                                             // v1
    val ckpt = newDir() + "/ckpt"
    type Row5 = (Option[Long], Option[String], Option[Int], String, Long)
    def runOnce(): Set[Row5] = {
      val got = scala.collection.mutable.Set.empty[Row5]
      val q = spark.readStream.format("graft-manifest")
        .option("cdc", "true").load(root)
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          got.synchronized {
            got ++= df.select("id", "part", "v", "_change_type",
              "_commit_version")
              .as[Row5](org.apache.spark.sql.Encoders.product[
                (Option[Long], Option[String], Option[Int],
                  String, Long)])
              .collect()
          }; ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      got.toSet
    }
    // first run: the snapshot replays as inserts stamped v1
    assert(runOnce() == Set(
      (Some(1L), Some("a"), Some(10), "insert", 1L),
      (Some(2L), Some("b"), Some(20), "insert", 1L)))
    // an append and a MoR delete land while the stream is down
    Manifest.commitAppend(spark, root,
      Seq((3L, "c", 30)).toDF("id", "part", "v"), Seq("part")) // v2
    Manifest.deleteByKeys(spark, root, Seq(1L, 3L).toDF("id")) // v3
    // the restart crosses the delete commit: inserts + retractions
    assert(runOnce() == Set(
      (Some(3L), Some("c"), Some(30), "insert", 2L),
      (Some(1L), None, None, "delete", 3L),
      (Some(3L), None, None, "delete", 3L)))
    // a delete keyed on the PARTITION column: the key values must be
    // read FROM the key file (not emitted as the constant NULL a
    // partition-less file would imply) — the retraction names the
    // partition it erases
    Manifest.deleteByKeys(spark, root, Seq("b").toDF("part"))  // v4
    assert(runOnce() == Set(
      (None, Some("b"), None, "delete", 4L)))
    // the plain (non-cdc) stream still fails loudly over the same range
    val plainCkpt = newDir() + "/ckpt2"
    Manifest.commitAppend(spark, root,
      Seq((5L, "a", 50)).toDF("id", "part", "v"), Seq("part")) // v5
    val q = spark.readStream.format("graft-manifest").load(root)
      .writeStream.format("memory").queryName("cdc_plain")
      .option("checkpointLocation", plainCkpt)
      .trigger(Trigger.AvailableNow()).start()
    val err = intercept[org.apache.spark.sql.streaming
      .StreamingQueryException](q.awaitTermination())
    assert(err.getMessage.contains("merge-on-read") ||
      Option(err.getCause).exists(_.getMessage.contains("merge-on-read")))
    // batch reads with the option are refused, pointing at readStream
    intercept[Exception](spark.read.format("graft-manifest")
      .option("cdc", "true").load(root).collect())
  }

  test("end-to-end incremental pipeline: manifest source → transform " +
    "→ exactly-once manifest sink (bronze→silver), replay-safe") {
    val base = newDir()
    val src = s"$base/bronze"
    val dst = s"$base/silver"
    val ckpt = s"$base/ckpt"
    Manifest.init(spark, src,
      Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "part", "v"),
      Seq("part"))
    def runPipe(): Unit = {
      val q = spark.readStream.format("graft-manifest").load(src)
        .withColumn("v2", col("v") * 2)
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          Manifest.commitStreamBatch(spark, dst, df, "pipe", id); ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def silver = Manifest.read(spark, dst, None)
      .select("id", "v2").as[(Long, Int)].collect().toSet
    runPipe()
    assert(silver == Set((1L, 20), (2L, 40)))
    // upstream commits land; only the delta flows downstream
    Manifest.commitAppend(spark, src,
      Seq((3L, "a", 30)).toDF("id", "part", "v"), Seq("part"))
    runPipe()
    assert(silver == Set((1L, 20), (2L, 40), (3L, 60)))
    // idle replay: no new upstream commits → no duplicate downstream
    // commit (offsets + the sink's batch high-water mark both hold)
    val vBefore = Manifest.latestVersion(spark, dst)
    runPipe()
    assert(silver == Set((1L, 20), (2L, 40), (3L, 60)))
    assert(Manifest.latestVersion(spark, dst) == vBefore)
  }

  test("maxVersionsPerTrigger bounds each micro-batch to N commits " +
    "(a stream restarting far behind catches up in bounded steps)") {
    val root = newDir() + "/t"
    Manifest.init(spark, root, Seq((1L, "x")).toDF("id", "s"))
    Manifest.commitAppend(spark, root, Seq((2L, "y")).toDF("id", "s"))
    Manifest.commitAppend(spark, root, Seq((3L, "z")).toDF("id", "s"))
    val batches = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    val q = spark.readStream.format("graft-manifest")
      .option("maxVersionsPerTrigger", "1").load(root)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batches.synchronized {
          batches += df.select("id")
            .as[Long](org.apache.spark.sql.Encoders.scalaLong)
            .collect().toSet
        }; ()
      }
      .option("checkpointLocation", newDir() + "/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // one micro-batch per commit, in commit order — never coalesced
    assert(batches.filter(_.nonEmpty).toSeq ==
      Seq(Set(1L), Set(2L), Set(3L)), batches)
  }

  test("native streaming SINK: writeStream.format(graft-manifest) " +
    "commits exactly-once per epoch; restart consumes only the delta") {
    val base = newDir()
    val src = s"$base/src"
    val dst = s"$base/dst"
    val ckpt = s"$base/ckpt"
    Manifest.init(spark, src,
      Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "part", "v"),
      Seq("part"))
    // the sink table must exist (schema header) — CREATE then stream in
    Manifest.init(spark, dst,
      spark.createDataFrame(new java.util.ArrayList[
        org.apache.spark.sql.Row](),
        Manifest.read(spark, src, None).schema), Seq("part"))
    def runPipe(): Unit = {
      val q = spark.readStream.format("graft-manifest").load(src)
        .writeStream.format("graft-manifest")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start(dst)
      q.awaitTermination()
    }
    def sunk = Manifest.read(spark, dst, None)
      .select("id", "part", "v").as[(Long, String, Int)].collect().toSeq
    runPipe()
    assert(sunk.toSet == Set((1L, "a", 10), (2L, "b", 20)))
    // files landed hive-partitioned and escaped like every other commit
    assert(Manifest.read(spark, dst, None).filter(col("part") === "a")
      .count() == 1)
    // upstream delta flows through on restart; no replay of epoch 0
    Manifest.commitAppend(spark, src,
      Seq((3L, "a", 30)).toDF("id", "part", "v"), Seq("part"))
    runPipe()
    assert(sunk.toSet ==
      Set((1L, "a", 10), (2L, "b", 20), (3L, "a", 30)))
    assert(sunk.size == 3, s"duplicated rows: $sunk")
    // idle run: no new commit on the sink (exactly-once, not at-least)
    val vBefore = Manifest.latestVersion(spark, dst)
    runPipe()
    assert(Manifest.latestVersion(spark, dst) == vBefore)
    // the connector read path (vectorized, pruned) sees the sunk table
    assert(spark.read.format("graft-manifest").load(dst)
      .filter(col("part") === "a").select("id")
      .as[Long].collect().toSet == Set(1L, 3L))
  }

  test("native sink enforces CHECK constraints: a violating epoch " +
    "fails the query, nothing publishes, a clean retry lands") {
    val base = newDir()
    val src = s"$base/src"
    val dst = s"$base/dst"
    Manifest.init(spark, src,
      Seq((1L, "a", 10), (2L, "b", -5)).toDF("id", "part", "v"),
      Seq("part"))
    Manifest.init(spark, dst,
      spark.createDataFrame(new java.util.ArrayList[
        org.apache.spark.sql.Row](),
        Manifest.read(spark, src, None).schema), Seq("part"))
    Manifest.addConstraint(spark, dst, "v_pos", "v >= 0",
      validate = false)
    def runPipe(ckpt: String, filter: org.apache.spark.sql.DataFrame
        => org.apache.spark.sql.DataFrame): Unit = {
      val q = filter(spark.readStream.format("graft-manifest")
          .load(src))
        .writeStream.format("graft-manifest")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start(dst)
      q.awaitTermination()
    }
    val vBefore = Manifest.latestVersion(spark, dst)
    val e = intercept[Exception] { runPipe(s"$base/ckpt1", identity) }
    def causes(t: Throwable) = Iterator.iterate(t)(_.getCause)
      .takeWhile(_ != null).take(8).toSeq
    assert(causes(e).exists(c => Option(c.getMessage)
      .exists(_.contains("CHECK constraint"))), e)
    assert(Manifest.latestVersion(spark, dst) == vBefore,
      "a refused epoch must publish nothing")
    // a clean epoch (the pipeline now filters) passes the gate
    runPipe(s"$base/ckpt2", _.filter(col("v") >= 0))
    assert(Manifest.read(spark, dst, None)
      .select("id").as[Long].collect().toSeq == Seq(1L))
  }

  test("native sink autoCompactEvery: the maintenance loop rides the " +
    "sink — periodic bin-packing, content identical, marks survive") {
    val base = newDir()
    val src = s"$base/src"
    val dst = s"$base/dst"
    Manifest.init(spark, src, Seq((0L, 0L)).toDF("id", "v"))
    Manifest.init(spark, dst,
      spark.createDataFrame(new java.util.ArrayList[
        org.apache.spark.sql.Row](),
        Manifest.read(spark, src, None).schema))
    val ckpt = s"$base/ckpt"
    def runPipe(): Unit = {
      val q = spark.readStream.format("graft-manifest").load(src)
        .writeStream.format("graft-manifest")
        .option("checkpointLocation", ckpt)
        .option("autoCompactEvery", "2")
        .trigger(Trigger.AvailableNow())
        .start(dst)
      q.awaitTermination()
    }
    // several one-commit epochs: every 2nd sink version compacts
    for (i <- 1 to 4) {
      Manifest.commitAppend(spark, src,
        Seq((i.toLong, i * 10L)).toDF("id", "v"))
      runPipe()
    }
    val vs = Manifest.versions(spark, dst)
    // more versions than epochs → compactions interleaved
    assert(vs.size > 5, s"no auto-compaction happened: $vs")
    // content exact, exactly-once intact
    assert(Manifest.read(spark, dst, None)
      .select("id").as[Long].collect().toSet == (0L to 4L).toSet)
    // the latest snapshot is packed: fewer files than rows landed
    assert(Manifest.snapshot(spark, dst, vs.last).files.size < 5)
  }

  test("native sink: replayed epoch is a no-op commit and its staged " +
    "files are reclaimed") {
    val base = newDir()
    val dst = s"$base/t"
    val schema = Seq((1L, "a")).toDF("id", "part").schema
    Manifest.init(spark, dst,
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), schema),
      Seq("part"))
    import graft.sources.connector.{ManifestConnector, ManifestStreamingWrite, ManifestWriteMessage, ManifestWriterFactory}
    val res = ManifestConnector.resolve(spark, Map("path" -> dst))
    val w = new ManifestStreamingWrite(res, "q-replay", schema)
    def writeEpoch(epoch: Long, id: Long): Array[
        org.apache.spark.sql.connector.write.WriterCommitMessage] = {
      val fac = w.createStreamingWriterFactory(null)
      val dw = fac.createWriter(0, 0L, epoch)
      val row = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(Array[Any](id,
          org.apache.spark.unsafe.types.UTF8String.fromString("a")))
      dw.write(row)
      Array(dw.commit())
    }
    w.commit(0L, writeEpoch(0L, 1L))
    val v1 = Manifest.latestVersion(spark, dst)
    // at-least-once replay of epoch 0 (restart window): same epoch id,
    // new staged files — must NOT commit, and must delete the orphans
    val replayed = writeEpoch(0L, 99L)
    val staged = replayed.collect {
      case m: ManifestWriteMessage => m.entries.map(_.path) }.flatten
    w.commit(0L, replayed)
    assert(Manifest.latestVersion(spark, dst) == v1,
      "replayed epoch must not advance the table version")
    val fs = new org.apache.hadoop.fs.Path(dst).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    staged.foreach(p => assert(
      !fs.exists(new org.apache.hadoop.fs.Path(s"$dst/$p")),
      s"replayed epoch's staged file survived: $p"))
    // next epoch commits normally
    w.commit(1L, writeEpoch(1L, 2L))
    assert(Manifest.read(spark, dst, None).select("id")
      .as[Long].collect().toSet == Set(1L, 2L))
  }

  test("streaming source composes with pushdown: a partition filter " +
    "keeps other partitions' files out of every micro-batch") {
    val root = newDir() + "/t"
    Manifest.init(spark, root,
      Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "part", "v"),
      Seq("part"))
    Manifest.commitAppend(spark, root,
      Seq((3L, "a", 30), (4L, "b", 40)).toDF("id", "part", "v"),
      Seq("part"))
    val q = spark.readStream.format("graft-manifest").load(root)
      .filter(col("part") === "a")
      .writeStream.format("memory").queryName("mstream_pruned")
      .option("checkpointLocation", newDir() + "/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.table("mstream_pruned").select("id")
      .as[Long].collect().toSet == Set(1L, 3L))
  }
}
