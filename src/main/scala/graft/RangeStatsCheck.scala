package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

/** Measurement main for the EXACT cosine range ops (q253/q254/q255):
  * unlike the top-k serves there is nothing to validate-then-pin —
  * the angular bound makes any pruning outcome exact — so what this
  * reports is the PRUNING the bound actually delivers on the
  * clustered corpus at each scale:
  *
  *   - admitted cells / nCells for the q253 radius query (and the
  *     files the pruned scan reads vs the index's total),
  *   - admitted cell PAIRS / nCells² for the q255 self join (the
  *     blocking factor that replaces the n² pass),
  *   - per-eval admitted cells for the q254 decontamination batch.
  *
  * Usage:
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 \
  *     sbt "runMain graft.RangeStatsCheck"
  */
object RangeStatsCheck {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.001")
    val cpus = SessionTuning.envCpus(16)
    val tau = sys.env.getOrElse("SPARK_GRAFT_RANGE_TAU", "0.95").toDouble
    val trainIters =
      sys.env.getOrElse("SPARK_GRAFT_RANGE_TRAIN", "2").toInt
    val spark = SessionTuning.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.sources.{Fixtures, Manifest, VectorIndex}

    // fixture=embeddings → the DRIVER's deliberately near-uniform
    // corpus (the documented adversarial case): the bound admits
    // nearly every cell, the serve degrades to an exact probe-all —
    // slower, never wrong. The honest-worst-case row for SCALING.md.
    val uniformMode =
      sys.env.get("SPARK_GRAFT_RANGE_FIXTURE").contains("embeddings")
    val n = Tables.load(spark, sfDir, "embeddings").count()
    val emb =
      if (uniformMode) Tables.load(spark, sfDir, "embeddings")
      else Fixtures.clusteredEmbeddings(spark, n)
    val nCells =
      if (uniformMode) 16 else Fixtures.scaledClusters(n)
    val root = "file://" + TempRoots.create("graft_rangestats") + "/v"
    var t0 = System.nanoTime()
    VectorIndex.create(spark, root, emb, "vec_id", "embedding", nCells,
      trainIters = trainIters)
    val tBuild = (System.nanoTime() - t0) / 1e9

    // q253 shape: single-vector radius
    val qv = emb.filter(col("vec_id") === 7L)
      .select(graft.functions.Vectors.toDouble(col("embedding")))
      .head().getSeq[Double](0).toArray
    t0 = System.nanoTime()
    val r = VectorIndex.rangeSearch(spark, root, qv, tau)
    val rows = r.collect().length // executes r's own plan: its metrics
    val tRange = (System.nanoTime() - t0) / 1e9
    val scanned = new AdaptiveSparkPlanHelper {}
      .collectWithSubqueries(r.queryExecution.executedPlan) {
        case s: BatchScanExec => s.metrics("numFiles").value
      }.sum
    val total = Manifest.snapshot(spark, root,
      Manifest.latestVersion(spark, root).get).files.size
    println(f"== RangeStatsCheck $sfDir n=$n nCells=$nCells tau=$tau " +
      f"train=$trainIters build=$tBuild%.1fs ==")
    println(f"rangeSearch(q7): rows=$rows files=$scanned/$total " +
      f"(${scanned.toDouble / total}%.4f) t=$tRange%.2fs")

    // q255 shape: admitted cell pairs (driver replay of the rule)
    t0 = System.nanoTime()
    val pairs = VectorIndex.selfRangePairs(spark, root, tau)
    val nPairs = pairs.count()
    val tSelf = (System.nanoTime() - t0) / 1e9
    // re-derive the admitted-cell-pair count exactly as the operator
    // does (header arithmetic only)
    val admitted = {
      val st = Manifest.snapshotMeta(spark, root,
        Manifest.latestVersion(spark, root).get).meta
      val pv = st("vidx.pivots").split(";").map(_.split(",")
        .map(_.toDouble))
      val th = st("vidx.cellcos").split(",").map(c =>
        math.acos(math.max(-1.0, math.min(1.0, c.toDouble))))
      val ta = math.acos(math.max(-1.0, math.min(1.0, tau)))
      (for {
        c1 <- pv.indices; c2 <- pv.indices
        if math.acos(math.max(-1.0, math.min(1.0,
          graft.operators.Similarity.driverCos(pv(c1), pv(c2))))) <=
          th(c1) + th(c2) + ta + 1e-9
      } yield 1).size
    }
    println(f"selfRangePairs: pairs=$nPairs admittedCellPairs=" +
      f"$admitted/${nCells.toLong * nCells} " +
      f"(${admitted.toDouble / (nCells.toLong * nCells)}%.4f) " +
      f"t=$tSelf%.2fs")

    // q254 shape: batched eval admission
    def md5u(c: org.apache.spark.sql.Column) =
      graft.functions.Native.md5Prefix32(c).cast("double") /
        lit(4294967296.0)
    val eval = emb.filter(col("vec_id") % 101 === 0)
      .select((col("vec_id") + lit(n + 1000000L)).as("eval_id"),
        col("embedding"))
      .select(col("eval_id"), transform(col("embedding"), (x, j) =>
        x + (md5u(concat(col("eval_id").cast("string"), lit("@"),
          j.cast("string"), lit("|dc"))) * lit(2.0) - lit(1.0)) *
          lit(0.01)).as("embedding"))
    t0 = System.nanoTime()
    val hits = VectorIndex.rangeJoin(spark, root, eval, "eval_id",
      "embedding", tau)
    val nHits = hits.count()
    val tJoin = (System.nanoTime() - t0) / 1e9
    val nEval = eval.count()
    println(f"rangeJoin(eval%%101): evals=$nEval hitRows=$nHits " +
      f"t=$tJoin%.2fs")
    spark.stop()
  }
}
