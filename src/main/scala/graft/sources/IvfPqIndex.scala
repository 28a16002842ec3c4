package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** PERSISTED IVF-PQ SERVING ARTIFACT — the production ANN index shape
  * at 100 TB, promoted from q244's inline build to a first-class
  * source so single-query AND batched serving share one artifact and
  * one plan. Reference scope: the OpenSearch tier's maintained k-NN
  * index concept (README.md:26), re-expressed as a versioned Manifest
  * table; the IVF-PQ + refine composition follows the public FAISS
  * design (Jégou et al., "Product Quantization for Nearest Neighbor
  * Search", TPAMI 2011; faiss `IndexIVFPQ` + `IndexRefineFlat`).
  *
  * LAYOUT — one manifest table at `root`, rows
  * (id, centroid_id, codes array<int>[, v]) PARTITIONED BY centroid_id:
  * the probe's partition pruning works on real files, unprobed cells'
  * parquet never enters the plan. `codes` holds the row's m codeword
  * ids in subspace order; `v` (with `storeVectors`) its full vector.
  * Everything query-independent rides the commit HEADER in
  * [[VectorIndex.serialize]]'s exact encoding: (dim, m, pqK, nCells),
  * the IVF pivots (`pq.pids`, `pq.pivots` — selected by
  * [[Similarity.ivfPivots]], the ONE shared rule, so probe selection
  * can never desynchronize from the stored assignment) and the m·pqK
  * PQ codewords (`pq.books`, in (m, cid) order). Serving reads no
  * table but this one, and plans from the header with zero data IO.
  *
  * BUILD (once, amortized over every query): codebooks train on a
  * bounded `trainSample` hash-ordered sample (the FAISS discipline —
  * train cost stops growing with the corpus), the corpus is assigned
  * to cells and encoded in one map pass, and committed clustered by
  * cell in ONE commit — a crash leaves no artifact or the whole one.
  *
  * SERVE (per query set): probe selection is |Q|·nCells pivot
  * arithmetic on the driver; the ADC lookup table (|Q|·m·pqK doubles),
  * the (cell → probing queries) map and the query vectors ride as
  * literals. The read partition-prunes to the UNION of all queries'
  * probed cells and is read ONCE for the whole batch; each row pairs
  * only with the queries that probed ITS cell, scores by a row-wise sum
  * over its codes, and per-query shortlists run through the
  * bounded-heap [[graft.plans.TopK.perGroup]] plan, whose map-side step
  * keeps each task's best rows before the one exchange. With stored
  * vectors the shortlisted rows carry `v` into the exact re-rank: a
  * serve is one shuffle, two Spark jobs. Per query the output is
  * IDENTICAL to [[Similarity.pqTopKRefinedBatch]] at the same settings
  * whenever the probed cells contain the true top-k (validate-then-pin,
  * the q229 discipline) — the artifact is an amortization + pruning,
  * never an approximation change. */
object IvfPqIndex {

  /** Build the artifact under `root` (a URI, e.g. "file:///tmp/x").
    * One bounded codebook train, one nCells-row pivot collect, one
    * map-only cell assignment + encode, one commit.
    *
    * `storeVectors` additionally stores each row's FULL vector beside
    * its codes — the FAISS inverted-list-with-raw-vectors layout: the
    * exact re-rank then reads vectors from the PROBED CELLS ONLY
    * (shortlist ids live there by construction), so serving never
    * touches an external vector store at all and the whole serve is
    * partition-pruned end to end. Costs ~dim·8 bytes/row of index
    * storage — the standard space-for-IO trade. */
  def create(spark: SparkSession, root: String, emb: DataFrame,
             idCol: String, vecCol: String, dim: Int, nCells: Int,
             m: Int, pqK: Int, iters: Int, trainSample: Int,
             storeVectors: Boolean = false): Unit = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val books = Similarity.trainBooks(
      if (trainSample > 0)
        Similarity.trainSample(emb, idCol, "pqtrain", trainSample)
      else emb,
      idCol, vecCol, dim, m, pqK, iters)
    val pivots = Similarity.pivotRows(
      Similarity.ivfPivots(emb, idCol, vecCol, nCells))
    val rows = Similarity.encode(Similarity.ivfAssign(
        graft.scaleOut(Similarity.vecRows(emb, idCol, vecCol)), pivots),
      books, m, dim / m)
    // clustered by cell: ≈ one file per cell, so a probe reads only its
    // cells' few files
    Manifest.init(spark, root,
      rows.select(Seq(col("id"), col("centroid_id"), col("codes")) ++
          (if (storeVectors) Seq(col("v")) else Nil): _*)
        .repartition(col("centroid_id")),
      partitionCols = Seq("centroid_id"),
      extraMeta = Map("pq.dim" -> dim.toString, "pq.m" -> m.toString,
        "pq.k" -> pqK.toString, "pq.cells" -> nCells.toString,
        "pq.pids" -> pivots.map(_._1).mkString(","),
        "pq.pivots" -> VectorIndex.serialize(pivots.map(_._2)),
        "pq.books" -> VectorIndex.serialize(books.map(_._3))) ++
        (if (storeVectors) Map("pq.vecs" -> "1") else Map.empty))
  }

  /** The header and the version it was read at. A root whose create
    * never committed has no version and refuses here. */
  private def meta(spark: SparkSession, root: String)
      : (Map[String, String], Long) = {
    val head = Manifest.latestVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"$root not initialized"))
    val m = Manifest.snapshotMeta(spark, root, head).meta
    require(m.contains("pq.dim"),
      s"$root is not an IVF-PQ artifact (no pq.dim header)")
    (m, head)
  }

  /** BATCHED serve from the persisted artifact — the composition the
    * round-17 verdict named: q244's partition-pruned single-query plan
    * × q245's batch amortization.
    *
    * `queries` is `(queryIdCol, vecCol)`; `vectorStore` supplies the
    * full vectors for the exact re-rank (at 100 TB: the id-keyed
    * embedding table — the re-rank semi-joins refineFactor·topK rows
    * per query into it, never a corpus pass). Pass `None` for an
    * index built with `storeVectors`: the re-rank then uses the
    * vectors the shortlisted rows carry from the probed cells' own
    * files (serving is index-resident end to end). Rows with
    * `id == qid` are excluded per query (self-match). Returns
    * `(query_id, <idCol>, l2_dist)` — per-query the EXACT L2 top-k
    * whenever each query's probed cells contain it (6-dp
    * round-before-rank keys, the registry discipline). */
  def searchBatch(spark: SparkSession, root: String,
                  vectorStore: Option[DataFrame], queries: DataFrame,
                  idCol: String, vecCol: String, queryIdCol: String,
                  topK: Int, nProbe: Int, refineFactor: Int): DataFrame = {
    require(topK >= 1 && nProbe >= 1 && refineFactor >= 1,
      "topK, nProbe, refineFactor must all be >= 1")
    val (mt, head) = meta(spark, root)
    require(vectorStore.isDefined || mt.contains("pq.vecs"),
      s"$root stores no vectors (created without storeVectors) — " +
        "pass the vector store for the exact re-rank")
    val dim = mt("pq.dim").toInt
    val m = mt("pq.m").toInt
    val pqK = mt("pq.k").toInt
    val books = VectorIndex.parse(mt("pq.books")).zipWithIndex.map {
      case (cv, i) => (i / pqK, (i % pqK).toLong, cv) }
    val pivots = mt("pq.pids").split(",").map(_.toLong).toSeq
      .zip(VectorIndex.parse(mt("pq.pivots")))
    val qs = Similarity.queryRows(queries, queryIdCol, vecCol)
    // THE PRUNED READ — once for the whole batch, pinned to the
    // header's version: the read partition-prunes to the UNION of
    // probed cells, and each query's ADC covers only ITS OWN cells
    val cand = Similarity.inProbed(
      Manifest.read(spark, root, Some(head))
        .drop((if (vectorStore.isDefined) Seq("v") else Nil): _*),
      qs, Similarity.probe(qs, pivots, nProbe))
    val short = Similarity.shortlist(Similarity.adc(cand,
      Similarity.lut(books, qs, m, dim / m), m, pqK), refineFactor * topK)
    Similarity.rerank(short,
        vectorStore.map(Similarity.vecRows(_, idCol, vecCol)), qs, topK)
      .select(col("qid").as("query_id"), col("id").as(idCol),
        col("d").as("l2_dist"))
  }

  /** Single-query serve — [[searchBatch]] with a one-row query set
    * (q244's plan shape), returning `(<idCol>, l2_dist)` ascending. */
  def search(spark: SparkSession, root: String,
             vectorStore: Option[DataFrame],
             queries: DataFrame, idCol: String, vecCol: String,
             queryIdCol: String, topK: Int, nProbe: Int,
             refineFactor: Int): DataFrame =
    searchBatch(spark, root, vectorStore, queries, idCol, vecCol,
      queryIdCol, topK, nProbe, refineFactor)
      .select(col(idCol), col("l2_dist"))
      .orderBy(col("l2_dist").asc, col(idCol).asc)
}
