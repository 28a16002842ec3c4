package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.sources.{Manifest, PrefixLedger}

/** LEDGER STEADY-STATE measurement main (round-18 verdict item 3):
  * the registered q218/q230 fixtures are two half-corpus waves — the
  * ledger's worst case for writes and a shape that HIDES its steady
  * state, where many small waves each land one file per touched
  * bucket and the small-file tail grows. This main drives N
  * equal-sized waves of the SF's documents through the q230 admission
  * chain (cdc-chunk → bucket-pruned probe → span-dedup vs probe →
  * exactly-once ledger write), recording per-wave seconds and the
  * ledger's file count, then runs [[PrefixLedger.compact]] and
  * re-probes a FIXED wave before/after, asserting row-identical probe
  * results. Read: per-wave cost ≈ wave size and flat across waves;
  * file count collapses at compaction; probe rows unchanged.
  *
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_WAVES=10 \
  *     [SPARK_GRAFT_COMPACT_EVERY=n] sbt "runMain graft.LedgerWaveBench"
  */
object LedgerWaveBench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.01")
    val cpus = SessionTuning.envCpus(16)
    val nWaves = sys.env.getOrElse("SPARK_GRAFT_WAVES", "10").toInt
    val compactEvery =
      sys.env.getOrElse("SPARK_GRAFT_COMPACT_EVERY", "0").toInt
    val spark = SessionTuning.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val root = TempRoots.create("graft_lwb")
    val led = "file://" + root + "/ledger"
    val docs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").persist()
    val hd = docs.agg(max("doc_id"), count(lit(1))).head()
    val maxId = hd.getLong(0); val n = hd.getLong(1)
    val nBuckets = PrefixLedger.bucketCount(n)
    val span = maxId / nWaves + 1

    def files() = Manifest.latestVersion(spark, led)
      .map(v => Manifest.snapshotMeta(spark, led, v).entries.size)
      .getOrElse(0)

    val perWave = (0 until nWaves).map { w =>
      val b = docs.filter(col("doc_id") >= w * span &&
        col("doc_id") < (w + 1) * span)
      val t0 = System.nanoTime()
      val chunks = CacheScope.persist(
        Dedup.cdcChunks(b, "doc_id", "text", m = 8))
      val wavePfx = chunks.select(PrefixLedger.digestBucket(
        col("digest"), nBuckets).as(PrefixLedger.BucketCol)).distinct()
      val ledger = PrefixLedger.probe(spark, led, wavePfx)
        .map(_.select("digest"))
        .getOrElse(Seq.empty[String].toDF("digest"))
      val cleaned = CacheScope.persist(
        Dedup.removeDupChunksVsCorpus(b, "doc_id", "text", m = 8,
          ledger, preChunked = Some(chunks))
          .filter(col("kept_tokens") > 0))
      PrefixLedger.commitWave(spark, led,
        cleaned.select(explode(col("chunk_digests")).as("digest"))
          .withColumn(PrefixLedger.BucketCol,
            PrefixLedger.digestBucket(col("digest"), nBuckets)),
        "lwb", w.toLong, compactEvery = compactEvery)
      val sec = (System.nanoTime() - t0) / 1e9
      CacheScope.releaseAll()
      (w, sec, files())
    }

    // fixed-probe control: the FIRST wave's buckets, before vs after
    // an explicit end-of-run compaction — rows must be identical
    val probeWave = docs.filter(col("doc_id") < span)
    val ctlPfx = Dedup.cdcChunks(probeWave, "doc_id", "text", m = 8)
      .select(PrefixLedger.digestBucket(col("digest"), nBuckets)
        .as(PrefixLedger.BucketCol)).distinct().persist()
    def probeDigest(): (Long, Double) = {
      val t0 = System.nanoTime()
      val rows = PrefixLedger.probe(spark, led, ctlPfx).get
        .select("digest")
      val cnt = rows.count()
      (cnt, (System.nanoTime() - t0) / 1e9)
    }
    val (rowsBefore, probeBefore) = probeDigest()
    val filesBefore = files()
    PrefixLedger.compact(spark, led)
    val filesAfter = files()
    val (rowsAfter, probeAfter) = probeDigest()
    require(rowsBefore == rowsAfter,
      s"probe rows moved under compaction: $rowsBefore -> $rowsAfter")

    val waveJson = perWave.map { case (w, s, f) =>
      s"""{"wave":$w,"sec":${f"$s%.3f"},"ledger_files":$f}"""
    }.mkString("[", ",", "]")
    println(s"""{"metric":"ledger_waves","sf":"$sfDir","docs":$n,""" +
      s""""waves":$nWaves,"buckets":$nBuckets,""" +
      s""""compact_every":$compactEvery,"per_wave":$waveJson,""" +
      s""""files_before_compact":$filesBefore,""" +
      s""""files_after_compact":$filesAfter,""" +
      s""""probe_sec_before":${f"$probeBefore%.3f"},""" +
      s""""probe_sec_after":${f"$probeAfter%.3f"},""" +
      s""""probe_rows":$rowsBefore}""")
    spark.stop()
  }
}
