package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Vectors
import graft.operators.{Sampling, Similarity}

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

    val (emb, nCells) =
      if (clusteredMode) {
        val n = Tables.load(spark, sfDir, "embeddings").count()
        (graft.sources.Fixtures.clusteredEmbeddings(spark, n),
          graft.sources.Fixtures.scaledClusters(n)) // cells ≡ clusters
      } else (Tables.load(spark, sfDir, "embeddings"), 16)
    val assign = Similarity.ivfIndex(emb, "vec_id", "embedding", nCells)
      .select(col("vec_id").as("id"), col("centroid_id")).persist()
    val pivots = Similarity.ivfPivots(emb, "vec_id", "embedding", nCells)
    val trainSet = emb.orderBy(
      Sampling.portableHash(col("vec_id"), "pqtrain").asc,
      col("vec_id").asc).limit(2048)
    val books = Similarity.pqCodebooks(trainSet, "vec_id", "embedding",
      dim, m, pqK, iters)
    val codes = Similarity.pqEncode(emb, "vec_id", "embedding", books,
      dim, m).persist()

    val qset = broadcast(emb.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("qid"),
        Vectors.toDouble(col("embedding")).as("qvec")))

    // probe rank of every cell per query (1-based, cosine desc / pid asc)
    val probeRank = pivots.crossJoin(qset)
      .select(col("qid"), col("pid"),
        coalesce(Vectors.cosine(col("qvec"), col("pv")), lit(-2.0))
          .as("pc"))
      .withColumn("probe_rank", row_number().over(
        Window.partitionBy("qid")
          .orderBy(col("pc").desc, col("pid").asc)))
      .select("qid", "pid", "probe_rank")

    // exact L2 top-k per query
    val exact = graft.plans.TopK.perGroup(
      emb.select(col("vec_id").as("id"),
          Vectors.toDouble(col("embedding")).as("v"))
        .crossJoin(qset)
        .filter(col("id") =!= col("qid"))
        .select(col("qid"), col("id"),
          round(Similarity.l2sq(col("v"), col("qvec")), 6).as("d")),
      Seq("qid"), Seq(graft.plans.TopK.asc("d"),
        graft.plans.TopK.asc("id")), topK)

    // ADC rank among the REGISTERED nProbe cells' candidates
    val probed = probeRank.filter(col("probe_rank") <= nProbe)
      .select(col("qid"), col("pid").as("centroid_id"))
    val subDim = dim / m
    val qsub = qset.select(col("qid"),
        posexplode(Similarity.subspaces(col("qvec"), m, subDim)))
      .toDF("qid", "m", "qsv")
    val lut = broadcast(books.join(qsub, Seq("m"))
      .select(col("qid"), col("m"), col("cid").as("code"),
        Similarity.l2sq(col("cv"), col("qsv")).as("pd")))
    val adcRank = codes.join(assign, Seq("id"))
      .join(broadcast(probed), Seq("centroid_id"))
      .filter(col("id") =!= col("qid"))
      .join(lut, Seq("qid", "m", "code"))
      .groupBy("qid", "id").agg(sum("pd").as("ad"))
      .withColumn("adc_rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("ad").asc, col("id").asc)))
      .select("qid", "id", "adc_rank")

    val report = exact
      .join(assign, Seq("id"))
      .join(probeRank.withColumnRenamed("pid", "centroid_id"),
        Seq("qid", "centroid_id"))
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
