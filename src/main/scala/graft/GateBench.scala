package graft

import org.apache.spark.sql.functions._

import graft.operators.Curation
import graft.sources.Manifest

/** DRIFT-GATE cost measurement main (round-18 verdict item 2's "Done"
  * experiment): a FIXED 100-doc wave is PSI-gated against growing
  * corpora two ways —
  *
  *   rescan gate (the pre-round-18 q246 plan): re-read the live
  *   table's (source, n_chars) columns and rebuild the reference
  *   histogram per wave — column-pruned but O(corpus);
  *
  *   header gate (the shipped plan): parse the |sources|×8 histogram
  *   from the table's commit header and aggregate only the WAVE.
  *
  * Both gates' max-PSI must agree to 6 dp (asserted — the histograms
  * are the same exact integers). Read: header-gate cost flat across
  * corpus decades, rescan-gate cost growing.
  *
  *   SPARK_GRAFT_SF_DIR=... sbt "runMain graft.GateBench"
  */
object GateBench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.01")
    val cpus = SessionTuning.envCpus(16)
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val spark = SessionTuning.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val root = "file://" + TempRoots.create("graft_gb") + "/t"
    val docs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "source", "n_chars")
    val n = docs.count()
    // the corpus table, committed WITH its histogram in the header —
    // what q246's wave commits maintain incrementally
    val hist = Curation.driftHistogram(docs, "source", "n_chars",
      bucketWidth = 256L, numBuckets = 8)
    Manifest.init(spark, root, docs,
      extraMeta = Map("hist" -> Curation.serializeHist(hist)))
    val wave = docs.filter(col("doc_id") < 100)
      .withColumn("n_chars", (col("n_chars") + 300L).cast("long"))
      .persist()
    wave.count()

    def psiOf(df: org.apache.spark.sql.DataFrame): Double = {
      val r = df.agg(max("psi")).head()
      if (r.isNullAt(0)) 0.0 else r.getDouble(0)
    }
    def timed(f: () => Double): (Double, Double) = {
      f() // warm-up
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val v = f()
        (v, (System.nanoTime() - t0) / 1e9)
      }
      (ts.head._1, ts.map(_._2).sorted.apply(reps / 2))
    }

    val (psiRescan, rescanSec) = timed(() => psiOf(
      Curation.distributionDrift(
        Manifest.read(spark, root).select("source", "n_chars"),
        wave.select("source", "n_chars"),
        "source", "n_chars", bucketWidth = 256L, numBuckets = 8)))
    val (psiHeader, headerSec) = timed(() => {
      val head = Manifest.latestVersion(spark, root).get
      val h1 = Curation.parseHist(spark,
        Manifest.snapshotMeta(spark, root, head).meta("hist"), "source")
      psiOf(Curation.distributionDriftHists(h1,
        Curation.driftHistogram(wave.select("source", "n_chars"),
          "source", "n_chars", bucketWidth = 256L, numBuckets = 8),
        "source", numBuckets = 8))
    })
    require(math.abs(psiRescan - psiHeader) < 1e-6,
      s"gate disagreement: rescan $psiRescan vs header $psiHeader")
    println(s"""{"metric":"gate_cost","sf":"$sfDir","docs":$n,""" +
      s""""reps":$reps,"max_psi":${f"$psiHeader%.6f"},""" +
      s""""rescan_gate_sec":${f"$rescanSec%.3f"},""" +
      s""""header_gate_sec":${f"$headerSec%.3f"}}""")
    spark.stop()
  }
}
