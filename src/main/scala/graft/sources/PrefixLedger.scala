package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Prefix-bucketed ADMISSION LEDGER — the pruned probe for streaming
  * dedup's per-wave membership checks.
  *
  * The problem it closes: a streaming admission (q218's banded
  * near-dup, q230's span-dedup ledger) must ask, per wave, "which of
  * this wave's keys has the corpus already admitted?" — and the naive
  * ledger read scans a CORPUS-sized key column every wave, even when
  * the wave is a thousandth of the table. Column-pruned, but still
  * O(corpus) per wave: the class the 100 TB bar names.
  *
  * The fix is bucket pruning, the skipping-index idea applied to the
  * ledger itself: ledger keys live in their own Manifest table
  * PARTITIONED by a deterministic key prefix (hex-digest prefix for
  * md5 keys, modulo buckets for integer keys). A wave's keys determine
  * — before any ledger IO — exactly which buckets can possibly hold a
  * collision (equal keys share every prefix), so the probe reads ONLY
  * those buckets' files via the scan's partition pruning. Probe
  * cost is Σ(touched buckets' sizes): with bucket count sized so that
  * corpus/buckets stays roughly constant (the packBestFit numSegs
  * rule applied to storage), per-wave admission cost tracks WAVE size,
  * not corpus size. The bucket-id collect is bounded by the bucket
  * count (≤ 16^prefixLen), the train-loop argmax class, never
  * corpus-sized.
  *
  * Correctness is containment, not approximation: the pruned read is a
  * SUPERSET of every ledger key equal to a wave key, so admission
  * decisions are byte-identical to the full scan (PrefixLedgerSpec
  * pins probe ≡ full read ∩ relevant buckets; q218/q230 hashes are
  * unchanged at every SF). Writes ride the same exactly-once
  * [[Manifest.commitStreamBatch]] epoch fencing as the main table —
  * a replayed wave no-ops on both.
  */
object PrefixLedger {

  /** The partition column every ledger table carries. */
  val BucketCol = "pfx"

  /** Bucket of a digest key: xxhash64 mod `buckets` — uniform for any
    * key text, and the bucket COUNT is a free parameter instead of a
    * power of 16, so callers size it to the corpus. Internal plumbing
    * (the oracle never sees buckets), so engine portability is not
    * required of the hash. */
  def digestBucket(digest: Column, buckets: Int): Column =
    pmod(xxhash64(digest), lit(buckets.toLong)).cast("int")

  /** Bucket of an integral key: pmod(key, buckets) — non-negative,
    * uniform for hash-valued keys (band keys, minhash values). */
  def keyBucket(key: Column, buckets: Int): Column =
    pmod(key, lit(buckets.toLong)).cast("int")

  /** Bucket-count sizing rule (the packBestFit numSegs discipline
    * applied to ledger storage): ~128 docs' keys per bucket, so bucket
    * SIZE stays roughly constant as the corpus grows and a wave's
    * probe cost is (touched buckets)·O(1). Floor 16 keeps tiny corpora
    * from degenerating to one file; the cap bounds the per-COMMIT file
    * fan-out — every wave write lands one file per touched bucket, and
    * a 4096-dir commit measured 4× the whole r16 build at sf10 on the
    * local FS (file create/rename dominates), so the cap trades probe
    * granularity for write cost. 512 keeps half-corpus waves (the
    * registered queries' worst case) write-cheap while a small wave
    * still skips the majority of buckets; a real object store with a
    * manifest-tracked flat namespace raises it. */
  def bucketCount(corpusDocs: Long): Int =
    math.max(16L, math.min(512L, corpusDocs / 128L)).toInt

  /** Create the ledger table from a pre-stream seed (an initial corpus
    * slice). `rows` must already carry [[BucketCol]]. */
  def init(spark: SparkSession, root: String, rows: DataFrame): Long = {
    require(rows.columns.contains(BucketCol),
      s"ledger rows must carry a '$BucketCol' column")
    Manifest.init(spark, root, rows.repartition(col(BucketCol)),
      partitionCols = Seq(BucketCol))
  }

  /** Exactly-once append of a wave's keys. `rows` must already carry
    * [[BucketCol]]; the commit clusters on it so each touched bucket
    * lands in O(1) files per wave. STEADY-STATE HYGIENE: N waves × one
    * file per touched bucket accumulate small files that inflate every
    * later probe's IO — pass `compactEvery` > 0 to fold them back
    * together with [[compact]] every that-many ledger versions
    * (probe RESULTS are byte-identical; only file count changes). */
  def commitWave(spark: SparkSession, root: String, rows: DataFrame,
                 queryId: String, batchId: Long,
                 compactEvery: Int = 0): Long = {
    require(rows.columns.contains(BucketCol),
      s"ledger rows must carry a '$BucketCol' column")
    // cadence counts WAVES, not manifest versions: compaction commits
    // bump the version too, so a version modulus would skew the
    // schedule, and a REPLAYED wave (exactly-once no-op) must not
    // trigger a fresh compaction commit on a path documented as a
    // no-op. The wave count rides the header (extraMeta is applied
    // only on ADVANCING commits — the replay leaves it untouched).
    val before = Manifest.latestVersion(spark, root)
    val waves = before.map(v =>
      Manifest.snapshotMeta(spark, root, v).meta
        .get(WavesKey).map(_.toLong).getOrElse(0L)).getOrElse(0L) + 1
    val v = Manifest.commitStreamBatch(spark, root,
      rows.repartition(col(BucketCol)), queryId, batchId,
      partitionCols = Seq(BucketCol),
      extraMeta = Map(WavesKey -> waves.toString))
    val advanced = !before.contains(v)
    if (compactEvery > 0 && advanced && waves % compactEvery == 0)
      compact(spark, root)
    else v
  }

  /** Header key carrying the count of ADVANCING wave commits — the
    * [[commitWave]] compaction schedule's denominator (compaction and
    * replayed-batch commits don't move it). */
  val WavesKey = "ledger.waves"

  /** Ledger maintenance — the manifest OPTIMIZE applied to the wave
    * tail: rewrite the accumulated per-wave small files into healthy
    * ones (partition layout preserved — every output file still lands
    * in ONE bucket dir, so the probe's partition pruning is
    * untouched), healthy files carry forward by reference. Admission
    * decisions are unaffected (same rows, fewer files); run
    * [[Manifest.vacuum]] afterwards to reclaim the rewritten
    * originals. Thresholds default low: ledger rows are narrow digest
    * strings — a few MB per bucket is already healthy. */
  def compact(spark: SparkSession, root: String,
              smallBytes: Long = 4L * 1024 * 1024,
              targetBytes: Long = 16L * 1024 * 1024): Long =
    Manifest.compact(spark, root, smallBytes, targetBytes)

  /** Bucket-pruned probe: the ledger rows whose bucket appears in
    * `waveBuckets` (a one-column frame of [[BucketCol]] values — pass
    * the WAVE's distinct buckets). Returns None when the ledger does
    * not exist yet (first wave). The isin filter is a partition
    * filter, so unprobed buckets' files never enter the plan. */
  def probe(spark: SparkSession, root: String,
            waveBuckets: DataFrame): Option[DataFrame] =
    Manifest.latestVersion(spark, root).map { _ =>
      // bounded collect: ≤ bucket-count rows by construction
      val buckets = waveBuckets.select(col(BucketCol)).distinct()
        .collect().map(_.get(0)).toSeq
      val t = Manifest.read(spark, root)
      if (buckets.isEmpty) t.filter(lit(false))
      else t.filter(col(BucketCol).isin(buckets: _*))
    }
}
