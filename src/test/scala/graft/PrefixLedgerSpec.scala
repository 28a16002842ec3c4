package graft

import org.apache.spark.sql.functions._

import graft.sources.{Manifest, PrefixLedger}

/** PrefixLedger — the bucket-pruned streaming-admission ledger behind
  * q218/q230's per-wave probes. The load-bearing claims: (1) a pruned
  * probe returns EXACTLY the ledger rows in the wave's buckets, so any
  * equal key is always found (containment — admission decisions match
  * the full scan byte-for-byte); (2) the probe's plan reads only the
  * probed buckets' files (partition pruning, not a post-scan filter);
  * (3) wave appends are exactly-once under the epoch fence. */
class PrefixLedgerSpec extends SparkSpec {

  import spark.implicits._

  private def tmp() = "file://" + TempRoots.create("graft_plspec") + "/t"

  test("probe returns exactly the probed buckets' rows — a wave key " +
    "always finds its ledger twin (containment)") {
    val root = tmp()
    val corpus = (1 to 200).map(i => s"digest_$i").toDF("digest")
      .withColumn(PrefixLedger.BucketCol,
        PrefixLedger.digestBucket(col("digest"), 16))
    PrefixLedger.init(spark, root, corpus)
    // wave: 3 keys present in the ledger + 2 absent
    val wave = Seq("digest_17", "digest_42", "digest_199",
      "nope_a", "nope_b").toDF("digest")
      .withColumn(PrefixLedger.BucketCol,
        PrefixLedger.digestBucket(col("digest"), 16))
    val got = PrefixLedger.probe(spark, root,
      wave.select(PrefixLedger.BucketCol)).get
    // containment: every wave key that exists in the ledger is found
    val hits = wave.select("digest")
      .join(got.select("digest"), Seq("digest"), "left_semi")
      .as[String].collect().toSet
    assert(hits == Set("digest_17", "digest_42", "digest_199"))
    // the probe is exactly the probed buckets: re-derive them
    val buckets = wave.select(PrefixLedger.BucketCol).distinct()
      .as[Int].collect().toSet
    val expect = corpus.filter(col(PrefixLedger.BucketCol)
      .isin(buckets.toSeq: _*)).count()
    assert(got.count() == expect)
  }

  test("probe of an absent ledger is None; empty wave probes nothing") {
    val root = tmp()
    assert(PrefixLedger.probe(spark, root,
      Seq(1).toDF(PrefixLedger.BucketCol)).isEmpty)
    PrefixLedger.init(spark, root,
      Seq(("a", 1)).toDF("digest", PrefixLedger.BucketCol))
    val got = PrefixLedger.probe(spark, root,
      Seq.empty[Int].toDF(PrefixLedger.BucketCol)).get
    assert(got.count() == 0)
  }

  test("the probe plan partition-prunes: unprobed buckets' files never " +
    "enter the scan") {
    val root = tmp()
    val corpus = (1 to 400).map(i => s"d_$i").toDF("digest")
      .withColumn(PrefixLedger.BucketCol,
        PrefixLedger.digestBucket(col("digest"), 8))
    PrefixLedger.init(spark, root, corpus)
    val one = PrefixLedger.probe(spark, root,
      Seq(3).toDF(PrefixLedger.BucketCol)).get
    val all = PrefixLedger.probe(spark, root,
      (0 to 7).toDF(PrefixLedger.BucketCol)).get
    val (f1, fAll) = (ScanFiles.planned(one), ScanFiles.planned(all))
    assert(f1 < fAll,
      s"single-bucket probe scans $f1 files vs $fAll for all buckets")
    assert(one.count() ==
      corpus.filter(col(PrefixLedger.BucketCol) === 3).count())
  }

  test("commitWave is exactly-once under the epoch fence: a replayed " +
    "wave no-ops") {
    val root = tmp()
    PrefixLedger.init(spark, root,
      Seq(("seed", 0)).toDF("digest", PrefixLedger.BucketCol))
    val wave = Seq(("w1", 1), ("w2", 2)).toDF("digest",
      PrefixLedger.BucketCol)
    PrefixLedger.commitWave(spark, root, wave, "q", 0L)
    PrefixLedger.commitWave(spark, root, wave, "q", 0L) // replay
    assert(Manifest.read(spark, root).count() == 3)
  }

  test("compaction folds the wave tail: probe rows byte-identical, " +
    "strictly fewer files, bucket layout (and pruning) preserved") {
    val root = tmp()
    val nb = 4
    def keyed(lo: Int, hi: Int) = (lo to hi).map(i => s"k_$i")
      .toDF("digest")
      .withColumn(PrefixLedger.BucketCol,
        PrefixLedger.digestBucket(col("digest"), nb))
    PrefixLedger.init(spark, root, keyed(0, 99))
    // 6 waves, each touching every bucket → 6-7 small files per bucket
    for (w <- 1 to 6)
      PrefixLedger.commitWave(spark, root, keyed(w * 100, w * 100 + 99),
        "cw", w.toLong)
    val wave = keyed(0, 699).select(PrefixLedger.BucketCol).distinct()
    val beforeRows = PrefixLedger.probe(spark, root, wave).get
      .select("digest").as[String].collect().sorted.toSeq
    val filesBefore = ScanFiles.live(spark, root)
    val v = PrefixLedger.compact(spark, root,
      smallBytes = 4L * 1024 * 1024)
    assert(v > 7, "compaction must commit a new version")
    val filesAfter = ScanFiles.live(spark, root)
    assert(filesAfter < filesBefore,
      s"$filesAfter files after vs $filesBefore before")
    val afterRows = PrefixLedger.probe(spark, root, wave).get
      .select("digest").as[String].collect().sorted.toSeq
    assert(afterRows == beforeRows)
    // layout preserved: a single-bucket probe still partition-prunes
    val one = PrefixLedger.probe(spark, root,
      Seq(1).toDF(PrefixLedger.BucketCol)).get
    assert(one.count() ==
      Manifest.read(spark, root)
        .filter(col(PrefixLedger.BucketCol) === 1).count())

    // compactEvery counts WAVES, not manifest versions — compaction
    // commits bump the version too, so a version modulus would skew
    // the schedule, and a REPLAYED wave (exactly-once no-op) must
    // never trigger a compaction commit of its own
    val root2 = tmp()
    PrefixLedger.init(spark, root2, keyed(0, 99))         // v1
    PrefixLedger.commitWave(spark, root2, keyed(100, 199),
      "cw", 1L, compactEvery = 3)                         // v2, wave 1
    PrefixLedger.commitWave(spark, root2, keyed(200, 299),
      "cw", 2L, compactEvery = 3)                         // v3, wave 2
    assert(Manifest.latestVersion(spark, root2).get == 3L)
    // replay wave 2 at head v3: a version modulus would see 3 % 3 == 0
    // and commit a compaction on the documented-no-op path
    PrefixLedger.commitWave(spark, root2, keyed(200, 299),
      "cw", 2L, compactEvery = 3)
    assert(Manifest.latestVersion(spark, root2).get == 3L,
      "replayed wave must not trigger a compaction commit")
    PrefixLedger.commitWave(spark, root2, keyed(300, 399),
      "cw", 3L, compactEvery = 3)    // wave 3 → v4, then compact → v5
    assert(Manifest.latestVersion(spark, root2).get == 5L)
    assert(Manifest.snapshotMeta(spark, root2, 5L)
      .meta(PrefixLedger.WavesKey) == "3",
      "compaction and replays must not move the wave counter")
    assert(Manifest.read(spark, root2).count() == 400)
  }
}
