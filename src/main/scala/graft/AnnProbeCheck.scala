package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** VALIDATE-THEN-PIN measurement main for the served ANN settings
  * (q229/q244/q245/q250): before registering or re-tuning nProbe /
  * refineFactor, run this against every SF (and the /tmp/sfscale
  * decades) and read, per query id:
  *
  *   - `cells` — distinct IVF cells holding the true L2 top-k,
  *   - `min_nprobe` — the smallest nProbe whose probed cells cover
  *     ALL true top-k neighbors (probe ranking by cosine-to-pivot),
  *   - `worst_adc_rank` — the worst (ad, id) rank of a true neighbor
  *     among the candidates of the REGISTERED nProbe's cells: must sit
  *     well inside the refineFactor·topK shortlist.
  *
  * The registered settings are safe iff min_nprobe <= registered
  * nProbe and worst_adc_rank << shortlist for every query on every
  * tested corpus. Usage:
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 \
  *     sbt "runMain graft.AnnProbeCheck [qid qid ...]"
  */
object AnnProbeCheck {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.001")
    val cpus = SessionTuning.envCpus(16)
    val qids: Seq[Long] =
      if (args.nonEmpty) args.toSeq.map(_.toLong)
      else Seq(7L, 59L, 101L, 167L)
    // fixture=clustered → the q251 corpus (Fixtures.clusteredEmbeddings
    // sized to the SF's embeddings count) at ITS registered settings
    val clusteredMode =
      sys.env.get("SPARK_GRAFT_ANN_FIXTURE").contains("clustered")
    val topK = 10
    val nProbe = sys.env.getOrElse("SPARK_GRAFT_ANN_NPROBE",
      if (clusteredMode) "8" else "15").toInt
    // shortlist bound = refineFactor·topK, with refineFactor a
    // per-query REGISTERED setting — read it like nProbe/m so a
    // re-tune can't leave this main printing stale verdicts
    val refineFactor =
      sys.env.getOrElse("SPARK_GRAFT_ANN_REFINE", "25").toInt
    val shortlist = refineFactor * topK
    val (dim, m0, pqK) = if (clusteredMode) (16, 4, 32) else (64, 16, 32)
    val m = sys.env.getOrElse("SPARK_GRAFT_ANN_M", m0.toString).toInt
    val iters = 2
    val spark = SessionTuning.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val (emb, nCells) =
      if (clusteredMode) {
        val n = Tables.load(spark, sfDir, "embeddings").count()
        (graft.sources.Fixtures.clusteredEmbeddings(spark, n),
          graft.sources.Fixtures.scaledClusters(n)) // cells ≡ clusters
      } else (Tables.load(spark, sfDir, "embeddings"), 16)
    val pivots = Similarity.pivotRows(
      Similarity.ivfPivots(emb, "vec_id", "embedding", nCells))
    val books = Similarity.trainBooks(
      Similarity.trainSample(emb, "vec_id", "pqtrain", 2048),
      "vec_id", "embedding", dim, m, pqK, iters)
    val assign = Similarity.encode(Similarity.ivfAssign(
        Similarity.vecRows(emb, "vec_id", "embedding"), pivots),
      books, m, dim / m).persist()
    val qs = Similarity.queryRows(emb.filter(col("vec_id").isin(qids: _*)),
      "vec_id", "embedding")

    // probe rank of every cell per query (1-based, cosine desc / pid asc)
    val ranks = Similarity.probe(qs, pivots, nCells).groupBy(_._1).values
      .flatMap(_.zipWithIndex.map { case ((q, pid), i) => (q, pid, i + 1) })
      .toSeq
    val probeRank = ranks.toDF("qid", "centroid_id", "probe_rank")

    // exact L2 top-k per query
    val exact = Similarity.exactTopK(Similarity.allQueries(assign, qs), qs,
      topK, cosine = false, Some(6))

    // ADC rank among the REGISTERED nProbe cells' candidates
    val adcRank = Similarity.adc(
        Similarity.inProbed(assign, qs,
          ranks.collect { case (q, pid, r) if r <= nProbe => (q, pid) }),
        Similarity.lut(books, qs, m, dim / m), m, pqK)
      .withColumn("adc_rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("ad").asc, col("id").asc)))
      .select("qid", "id", "adc_rank")

    val report = exact
      .join(assign.select("id", "centroid_id"), Seq("id"))
      .join(probeRank, Seq("qid", "centroid_id"))
      .join(adcRank, Seq("qid", "id"), "left")
      .groupBy("qid")
      .agg(countDistinct("centroid_id").as("cells"),
        max("probe_rank").as("min_nprobe"),
        max(coalesce(col("adc_rank"), lit(999999))).as("worst_adc_rank"))
      .orderBy("qid")
    println(s"== AnnProbeCheck $sfDir fixture=" +
      (if (clusteredMode) "clustered" else "embeddings") +
      s" topK=$topK nCells=$nCells " +
      s"registered nProbe=$nProbe shortlist=$shortlist ==")
    report.collect().foreach { r =>
      println(s"qid=${r.get(0)} cells=${r.get(1)} " +
        s"min_nprobe=${r.get(2)} worst_adc_rank=${r.get(3)}" +
        (if (r.getInt(2) > nProbe || r.getInt(3) > shortlist)
          "  <-- VIOLATES REGISTERED PIN" else ""))
    }
    spark.stop()
  }
}
