package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

import graft.CacheScope
import graft.functions.Native
import graft.operators.Dedup
import graft.sources.{Manifest, PrefixLedger}
import graft.streaming.IngestStream

/** The document half of `lake_churn`: waves of documents land as
  * parquet in a raw dir; each wave drains through
  * `IngestStream.rawStream` + `Trigger.AvailableNow` + `foreachBatch`,
  * whose body repeats the registered q218 steps — minhash band stamp, `PrefixLedger.probe`,
  * `Dedup.incrementalNewNearDupBanded`, `Manifest.commitStreamBatch`
  * and `PrefixLedger.commitWave`. One op = one wave, from the file
  * landing until the micro-batch has committed; the freshness runs on
  * until the first head read shows the admitted rows.
  *
  * Check: the final curated id set equals a non-streaming replay of the
  * same waves through `Dedup.incrementalNewNearDup`. */
final class StreamCurate(spark: SparkSession, data: String, work: String,
                         seed: Long, rec: Recorder) extends Workload {
  import StreamCurate._

  private val waves: IndexedSeq[String] =
    new java.io.File(s"$data/waves").list().filter(_.endsWith(".parquet"))
      .sortBy(_.stripPrefix("wave-").stripSuffix(".parquet").toInt)
      .map(f => s"$data/waves/$f").toIndexedSeq
  private val schema = spark.read.parquet(s"$data/seed.parquet").schema
  private val nBuckets = PrefixLedger.bucketCount(
    spark.read.parquet(s"$data/seed.parquet").count())
  private var root = ""
  private def curated = s"file://$root/curated"
  private def ledger = s"file://$root/sigledger"
  private var at = 0
  private var landed = Vector.empty[String]
  private var lastAdmitted = Set.empty[Long]
  private var arrived = 0L
  private var admitted = 0L
  private var bucketsProbed = 0L
  private var tracedBatches = 0L

  private def stamp(d: DataFrame) =
    d.withColumn("bkeys", Native.minhashBands(col("text"), 3, 64, 16))

  private def sigRows(d: DataFrame) =
    Dedup.explodeBandKeys(d, "doc_id", "bkeys", Seq("lang", "source"))
      .withColumn(PrefixLedger.BucketCol,
        PrefixLedger.keyBucket(col("bkey"), nBuckets))

  def setup(rep: Int): Unit = {
    if (root.nonEmpty) LakeChurn.rmrf(root)
    root = s"$work/stream_r$rep"
    Files.createDirectories(Paths.get(s"$root/raw"))
    val seedDocs = CacheScope.persist(stamp(spark.read.parquet(s"$data/seed.parquet")))
    Manifest.init(spark, curated, seedDocs)
    PrefixLedger.init(spark, ledger, sigRows(seedDocs))
    CacheScope.releaseAll()
    landed = Vector.empty
  }

  /** q218's micro-batch body. */
  private def body(b: DataFrame, id: Long): Unit = Trace.span("streaming.batch_body") {
    val cur = Manifest.read(spark, curated)
    val sb = CacheScope.persist(stamp(b))
    val wavePfx = sigRows(sb).select(PrefixLedger.BucketCol).distinct()
    if (Trace.enabled) { bucketsProbed += wavePfx.count(); tracedBatches += 1 }
    val sigs = Trace.span("prefix_ledger.probe")(
      PrefixLedger.probe(spark, ledger, wavePfx).get
        .select("lang", "source", "doc", "band", "bkey"))
    val adm = Trace.span("dedup.admit") {
      val a = CacheScope.persist(Dedup.incrementalNewNearDupBanded(b, cur,
        "doc_id", "text", blockCols = Seq("lang", "source"), shingleN = 3,
        threshold = 0.4, corpusSigs = Some(sigs)).select("doc_id"))
      lastAdmitted = a.collect().map(_.getLong(0)).toSet
      a
    }
    val stampedAdmitted = sb.join(adm, Seq("doc_id"), "left_semi")
    Trace.span("manifest.stream_commit")(
      Manifest.commitStreamBatch(spark, curated, stampedAdmitted, "ndb", id))
    Trace.span("prefix_ledger.commit_wave")(
      PrefixLedger.commitWave(spark, ledger, sigRows(stampedAdmitted), "ndbS", id))
    CacheScope.releaseAll()
  }

  private def drain(): Unit = Trace.span("streaming.drain") {
    IngestStream.rawStream(spark, s"$root/raw", schema, "parquet",
        maxFilesPerTrigger = 100000)
      .writeStream
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.AvailableNow())
      .foreachBatch((b: DataFrame, id: Long) => body(b, id))
      .start().awaitTermination()
  }

  /** Land wave `w` (atomic rename into the raw dir) and drain it; then
    * `ReadsPerWave` read ops on the curated head, each checked against
    * the ids the micro-batch admitted: the wave's visible row count, and
    * point reads of seeded wave ids (one row iff admitted). Landing →
    * the first read confirming visibility is the freshness. */
  private def wave(w: Int): Unit = {
    val src = waves(w)
    val ids = spark.read.parquet(src).select("doc_id").collect().map(_.getLong(0))
    val t0 = System.nanoTime()
    lastAdmitted = Set.empty
    val drained = rec.op("wave", read = false) {
      val tmp = Paths.get(s"$root/raw/.landing-$w.parquet")
      Files.copy(Paths.get(src), tmp)
      Files.move(tmp, Paths.get(s"$root/raw/wave-$w.parquet"),
        StandardCopyOption.ATOMIC_MOVE)
      drain()
      lastAdmitted
    } { adm => if (adm.nonEmpty) None else Some(s"wave $w admitted nothing") }
    landed :+= src
    drained.foreach { adm =>
      arrived += ids.length
      admitted += adm.size
      rec.op("head_read", read = true, label = "wave-range") {
        val head = Trace.span("manifest.read")(Manifest.read(spark, curated))
        Trace.span("collect")(
          head.filter(col("doc_id").between(ids.min, ids.max)).count())
      } { visible =>
        if (visible == adm.size) None
        else Some(s"wave $w: $visible rows visible, batch admitted ${adm.size}")
      }.foreach(_ => rec.sample("freshness", (System.nanoTime() - t0) / 1e6))
      val rng = new scala.util.Random(seed * 1000 + w)
      (1 until ReadsPerWave).foreach { _ =>
        val id = ids(rng.nextInt(ids.length))
        rec.op("head_read", read = true, label = "point") {
          val head = Trace.span("manifest.read")(Manifest.read(spark, curated))
          Trace.span("collect")(head.filter(col("doc_id") === id).count())
        } { n =>
          val want = if (adm.contains(id)) 1 else 0
          if (n == want) None else Some(s"doc $id: $n rows at the head, want $want")
        }
      }
    }
  }

  def warmup(): Double = {
    // one wave (its drain also creates the stream checkpoint), then
    // extra point reads: fresh literals keep compiling new plans
    wave(0); at = 1
    (1 to WarmupReads).foreach(i => rec.op("head_read", read = true)(
      Manifest.read(spark, curated).filter(col("doc_id") === i.toLong).count())(
      n => if (n == 1) None else Some(s"seed doc $i: $n rows")))
    0.0
  }

  def step(): Boolean = {
    if (at >= waves.size) return false
    wave(at); at += 1
    true
  }

  def finish(): Unit = {
    val got = Manifest.read(spark, curated).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    var corpus = spark.read.parquet(s"$data/seed.parquet")
    var want = corpus.select("doc_id").collect().map(_.getLong(0)).toSet
    landed.foreach { f =>
      val w = spark.read.parquet(f)
      val adm = Dedup.incrementalNewNearDup(w, corpus, "doc_id", "text",
        blockCols = Seq("lang", "source"), shingleN = 3, threshold = 0.4)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      want ++= adm
      corpus = corpus.unionByName(w.filter(col("doc_id").isin(adm.toSeq: _*)))
      corpus = CacheScope.persist(corpus)
    }
    CacheScope.releaseAllThreads()
    val extra = got -- want; val missing = want -- got
    rec.check("stream.curated_equals_replay", extra.isEmpty && missing.isEmpty,
      s"${landed.size} waves: curated ${got.size} ids, replay ${want.size}; " +
        s"${extra.size} extra ${extra.take(5)}, ${missing.size} missing ${missing.take(5)}")
  }

  def layerMetrics(): Seq[(String, Double)] = Seq(
    "streaming.trigger_overhead_ms" ->
      (Trace.spanMs("streaming.drain") - Trace.spanMs("streaming.batch_body")),
    "dedup.admitted_frac" -> (if (arrived == 0) 0.0 else admitted.toDouble / arrived),
    "prefix_ledger.wave_buckets" ->
      (if (tracedBatches == 0) 0.0 else bucketsProbed.toDouble / tracedBatches))
}

object StreamCurate {
  val ReadsPerWave = 4
  val WarmupReads = 4
}
