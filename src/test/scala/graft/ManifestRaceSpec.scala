package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._

import graft.sources.Manifest
import graft.sources.connector.ManifestConnector

/** The optimistic-concurrency retry path of commitAppend /
  * commitAppendBranch, exercised through the `appendRaceFence` test
  * seam: the fence runs in exactly the window the race occupies
  * (between the head-read and the publish claim), so a concurrent
  * commit injected there forces the loser onto the retry path
  * deterministically. A row-level rewrite (`commitRewrite`) does not
  * retry: off a stale version it throws the same `commit conflict`.
  *
  * Every test resets the fence in a finally — a leaked fence would
  * contaminate every subsequent append in the JVM (the seam is a
  * JVM-global). */
class ManifestRaceSpec extends SparkSpec {
  import spark.implicits._

  private def newRoot() = "file://" + java.nio.file.Files
    .createTempDirectory("graft-race").toString + "/t"

  /** Install a one-shot fence (first attempt only — the injected
    * commit itself appends, so the fence must not recurse), run `body`,
    * restore the production no-op. Returns the number of firings. */
  private def withOneShotFence(inject: => Unit)(body: => Unit): Int = {
    val fired = new AtomicInteger(0)
    Manifest.appendRaceFence = () =>
      if (fired.getAndIncrement() == 0) inject
    try { body; fired.get() }
    finally Manifest.appendRaceFence = () => ()
  }

  test("append loses the main-chain race once, retries, lands at " +
    "winner+1 with re-stamped seqs") {
    val root = newRoot()
    Manifest.init(spark, root, Seq((1L, "base")).toDF("id", "s"))
    var winnerV = -1L
    val fired = withOneShotFence {
      // the racing committer wins the v2 slot inside the loser's window
      winnerV = Manifest.commitAppend(spark, root,
        Seq((2L, "winner")).toDF("id", "s"))
    } {
      val v = Manifest.commitAppend(spark, root,
        Seq((3L, "loser-retried")).toDF("id", "s"))
      assert(winnerV == 2L)
      assert(v == 3L, "retried append must land at winner+1")
    }
    assert(fired >= 2, "loser must have made a second attempt")
    // nothing lost, nothing doubled
    assert(Manifest.read(spark, root, None)
      .select("id").as[Long].collect().toSet == Set(1L, 2L, 3L))
    // the retried entries were re-stamped with the head-at-publish seq:
    // the loser's file carries seq 3, not the stale seq 2 it was
    // written under
    val m3 = Manifest.snapshotMeta(spark, root, 3L)
    val stamped = m3.entries.filter(_.seq.contains(3L))
    assert(stamped.nonEmpty, "retried append's entries must carry seq 3")
  }

  test("branch append races a concurrent branch committer; main chain " +
    "untouched") {
    val root = newRoot()
    Manifest.init(spark, root, Seq((1L, "base")).toDF("id", "s"))
    Manifest.createBranch(spark, root, "dev")
    var winnerV = -1L
    withOneShotFence {
      winnerV = Manifest.commitAppendBranch(spark, root, "dev",
        Seq((2L, "winner")).toDF("id", "s"))
    } {
      val v = Manifest.commitAppendBranch(spark, root, "dev",
        Seq((3L, "loser-retried")).toDF("id", "s"))
      assert(v == winnerV + 1)
    }
    assert(Manifest.readBranch(spark, root, "dev")
      .select("id").as[Long].collect().toSet == Set(1L, 2L, 3L))
    // the race stayed on the branch: main head is still v1
    assert(Manifest.latestVersion(spark, root).contains(1L))
  }

  test("concurrent MoR delete does not retro-delete retried-append rows") {
    val root = newRoot()
    // id=7 exists in the base table AND in the pending append. The
    // delete that wins the race must erase the BASE id=7 but never the
    // append's — its entries are re-stamped after the delete commit,
    // and MoR applicability is strictly-smaller-seq.
    Manifest.init(spark, root,
      Seq((7L, "base-victim"), (1L, "base")).toDF("id", "s"))
    withOneShotFence {
      Manifest.deleteByKeys(spark, root, Seq(7L).toDF("id"))
    } {
      Manifest.commitAppend(spark, root,
        Seq((7L, "appended-survivor"), (9L, "new")).toDF("id", "s"))
    }
    val got = Manifest.read(spark, root, None)
      .select("id", "s").as[(Long, String)].collect().toSet
    assert(got == Set((7L, "appended-survivor"), (1L, "base"), (9L, "new")),
      s"MoR delete retro-deleted a post-delete append: $got")
  }

  test("a row-level rewrite committing off a stale version throws " +
    "commit conflict; the winner's snapshot is intact") {
    val root = newRoot()
    Manifest.init(spark, root, Seq((1L, "base")).toDF("id", "s"))
    // the rewrite read v1 ...
    val stale = ManifestConnector.resolve(spark, Map("path" -> root))
    // ... and a concurrent append won v2 before it committed
    Manifest.commitAppend(spark, root, Seq((2L, "winner")).toDF("id", "s"))
    val winner = Manifest.snapshot(spark, root, 2L).files
    val e = intercept[IllegalStateException] {
      Manifest.commitRewrite(spark, stale, stale.files.map(stale.relPath).toSet,
        Nil)
    }
    assert(e.getMessage.contains("commit conflict"), e.getMessage)
    assert(Manifest.latestVersion(spark, root).contains(2L))
    assert(Manifest.snapshot(spark, root, 2L).files == winner)
    assert(Manifest.read(spark, root, None)
      .select("id").as[Long].collect().toSet == Set(1L, 2L))
  }

  test("exhausting the retry budget rethrows (no unbounded spin) and " +
    "a failed fence never leaks") {
    val root = newRoot()
    Manifest.init(spark, root, Seq((1L, "base")).toDF("id", "s"))
    // a fence that ALWAYS wins the slot: the loser must give up after
    // its bounded attempts and surface the conflict
    try {
      Manifest.appendRaceFence = () => {
        val f = Manifest.appendRaceFence
        Manifest.appendRaceFence = () => () // the winner appends cleanly
        try Manifest.commitAppend(spark, root,
          Seq((100L, "w")).toDF("id", "s"))
        finally Manifest.appendRaceFence = f
        ()
      }
      val e = intercept[IllegalStateException] {
        Manifest.commitAppend(spark, root, Seq((2L, "l")).toDF("id", "s"))
      }
      assert(e.getMessage.contains("commit conflict"))
    } finally Manifest.appendRaceFence = () => ()
    // every winner's commit is intact; the loser published nothing
    val ids = Manifest.read(spark, root, None)
      .select("s").as[String].collect().toSet
    assert(ids == Set("base", "w"))
  }

  test("commitAppendIf deletes its attempt's data directory on a lost " +
    "race — repeated contention never accumulates orphaned parquet") {
    val root = newRoot()
    Manifest.init(spark, root, Seq((1L, "base")).toDF("id", "s"))
    def dataDirs(): Set[String] = {
      val d = java.nio.file.Paths
        .get(new java.net.URI(root + "/data"))
      val out = scala.collection.mutable.Set.empty[String]
      val s = java.nio.file.Files.list(d)
      try s.forEach(p => out += p.getFileName.toString)
      finally s.close()
      out.toSet
    }
    val before = dataDirs() // the init commit's dir
    assert(before.size == 1)
    val fired = withOneShotFence {
      // a winner claims v2 inside the loser's publish window
      Manifest.commitAppend(spark, root, Seq((2L, "w")).toDF("id", "s"))
    } {
      val e = intercept[IllegalStateException] {
        Manifest.commitAppendIf(spark, root, 1L,
          Seq((3L, "l")).toDF("id", "s"))
      }
      assert(e.getMessage.contains("commit conflict"))
    }
    assert(fired >= 1)
    // exactly init's + the winner's commit dirs remain: the loser's
    // freshly written directory was reclaimed before the rethrow
    val after = dataDirs()
    assert(after.size == 2,
      s"lost-race data dir not cleaned up: $after")
    assert(before.subsetOf(after))
    // and the table is exactly the winner's view
    assert(Manifest.read(spark, root, None)
      .select("id").as[Long].collect().toSet == Set(1L, 2L))
  }
}
