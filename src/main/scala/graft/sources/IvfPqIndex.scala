package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** PERSISTED IVF-PQ SERVING ARTIFACT — the production ANN index shape
  * at 100 TB, promoted from q244's inline build to a first-class
  * source so single-query AND batched serving share one artifact and
  * one plan. Reference scope: the OpenSearch tier's maintained k-NN
  * index concept (README.md:26), re-expressed as versioned Manifest
  * tables; the IVF-PQ + refine composition follows the public FAISS
  * design (Jégou et al., "Product Quantization for Nearest Neighbor
  * Search", TPAMI 2011; faiss `IndexIVFPQ` + `IndexRefineFlat`).
  *
  * LAYOUT — three Manifest tables under one root:
  *   `root/codes`  (id, m, code, centroid_id) PARTITIONED BY
  *                 centroid_id — the probe's partition pruning works on
  *                 real files: unprobed cells' parquet never enters the
  *                 plan. Header carries (dim, m, pqK, nCells).
  *   `root/books`  (m, cid, cv) — the PQ codebooks, m·pqK rows.
  *   `root/pivots` (pid, pv) — the IVF cell representatives, selected
  *                 by [[Similarity.ivfPivots]] (the ONE shared rule, so
  *                 probe selection can never desynchronize from the
  *                 stored assignment).
  *
  * BUILD (once, amortized over every query): codebooks train on a
  * bounded `trainSample` hash-ordered sample (the FAISS discipline —
  * train cost stops growing with the corpus), the corpus is encoded
  * once, assigned to cells once, and committed clustered by cell.
  *
  * SERVE (per query set): probe selection is |Q|·nCells pivot
  * arithmetic (stats-sized); the codes read partition-prunes to the
  * UNION of all queries' probed cells and is read ONCE for the whole
  * batch; each query ADCs only ITS probed cells' codes (a broadcast
  * (qid, cell) pair join); per-query shortlists run through the
  * bounded-heap [[graft.plans.TopK.perGroup]] plan (no corpus sort);
  * the exact re-rank joins only shortlist rows back to the vector
  * store. Per query the output is IDENTICAL to
  * [[Similarity.pqTopKRefinedBatch]] at the same settings whenever the
  * probed cells contain the true top-k (validate-then-pin, the q229
  * discipline) — the artifact is an amortization + pruning, never an
  * approximation change. */
object IvfPqIndex {

  /** Build the artifact under `root` (a URI, e.g. "file:///tmp/x").
    * One bounded codebook train, one nCells-row pivot collect, one
    * map-only cell assignment, one corpus encode, three commits.
    *
    * `storeVectors` additionally commits the FULL vectors cell-
    * partitioned (`root/vecs`) — the FAISS inverted-list-with-raw-
    * vectors layout: the exact re-rank then reads vectors from the
    * PROBED CELLS ONLY (shortlist ids live there by construction), so
    * serving never touches an external vector store at all and the
    * whole serve is partition-pruned end to end. Costs ~dim·8 bytes/
    * row of index storage — the standard space-for-IO trade. */
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
    // clustered by cell: ≈ one file per cell in `vecs` and `codes`, so
    // a probe reads only its cells' few files
    val assigned = Similarity.ivfAssign(
        graft.scaleOut(Similarity.vecRows(emb, idCol, vecCol)), pivots)
      .repartition(col("centroid_id"))
    // commit ORDER is the crash-safety contract: books/pivots/vecs
    // land first, the codes header — the discovery flag meta() keys
    // on — LAST. A crash mid-create then leaves a root meta()
    // REFUSES (no pq.dim header yet) instead of a half-artifact
    // whose serve would fail late or, worse, partially answer.
    // meta() additionally re-verifies the component tables resolve.
    // m·pqK and nCells driver rows: one file each, one task per serve
    Manifest.init(spark, s"$root/books",
      Similarity.booksFrame(spark, books).coalesce(1))
    Manifest.init(spark, s"$root/pivots",
      spark.createDataFrame(pivots).toDF("pid", "pv").coalesce(1))
    // with stored vectors the codes encode from the committed cell
    // rows, so the assignment runs exactly once either way
    val cells =
      if (!storeVectors) assigned
      else {
        val v = Manifest.init(spark, s"$root/vecs", assigned,
          partitionCols = Seq("centroid_id"))
        Manifest.read(spark, s"$root/vecs", Some(v))
      }
    Manifest.init(spark, s"$root/codes",
      Similarity.encode(cells, books, m, dim / m)
        .select("id", "m", "code", "centroid_id"),
      partitionCols = Seq("centroid_id"),
      extraMeta = Map("pq.dim" -> dim.toString, "pq.m" -> m.toString,
        "pq.k" -> pqK.toString, "pq.cells" -> nCells.toString) ++
        (if (storeVectors) Map("pq.vecs" -> "1") else Map.empty))
  }

  private def meta(spark: SparkSession, root: String)
      : Map[String, String] = {
    val head = Manifest.latestVersion(spark, s"$root/codes").getOrElse(
      throw new IllegalStateException(s"$root/codes not initialized"))
    val m = Manifest.snapshotMeta(spark, s"$root/codes", head).meta
    require(m.contains("pq.dim"),
      s"$root/codes is not an IVF-PQ artifact (no pq.dim header)")
    // component tables must resolve before the artifact serves —
    // guards a root whose create crashed mid-way (or was partially
    // copied): cheap manifest-head reads, no data IO
    val parts = Seq("books", "pivots") ++
      (if (m.contains("pq.vecs")) Seq("vecs") else Nil)
    parts.foreach { t =>
      require(Manifest.latestVersion(spark, s"$root/$t").isDefined,
        s"$root is an incomplete IVF-PQ artifact: $root/$t missing " +
          "(create crashed mid-way?) — rebuild before serving")
    }
    m
  }

  /** BATCHED serve from the persisted artifact — the composition the
    * round-17 verdict named: q244's partition-pruned single-query plan
    * × q245's batch amortization.
    *
    * `queries` is `(queryIdCol, vecCol)`; `vectorStore` supplies the
    * full vectors for the exact re-rank (at 100 TB: the id-keyed
    * embedding table — the re-rank semi-joins refineFactor·topK rows
    * per query into it, never a corpus pass). Pass `None` for an
    * index built with `storeVectors`: the re-rank then reads vectors
    * from the probed cells' own files (partition-pruned — serving is
    * index-resident end to end). Rows with `id == qid` are excluded
    * per query (self-match). Returns `(query_id, <idCol>, l2_dist)` —
    * per-query the EXACT L2 top-k whenever each query's probed cells
    * contain it (6-dp round-before-rank keys, the registry
    * discipline). */
  def searchBatch(spark: SparkSession, root: String,
                  vectorStore: Option[DataFrame], queries: DataFrame,
                  idCol: String, vecCol: String, queryIdCol: String,
                  topK: Int, nProbe: Int, refineFactor: Int): DataFrame = {
    require(topK >= 1 && nProbe >= 1 && refineFactor >= 1,
      "topK, nProbe, refineFactor must all be >= 1")
    val mt = meta(spark, root)
    require(vectorStore.isDefined || mt.contains("pq.vecs"),
      s"$root stores no vectors (created without storeVectors) — " +
        "pass the vector store for the exact re-rank")
    val dim = mt("pq.dim").toInt
    val m = mt("pq.m").toInt
    val qs = Similarity.queryRows(queries, queryIdCol, vecCol)
    val qset = Similarity.qsetOf(spark, qs)
    // probe selection: |Q|·nCells pivot cosines on the driver
    val probes = Similarity.probe(qs,
      Similarity.pivotRows(Manifest.read(spark, s"$root/pivots")), nProbe)
    // THE PRUNED READ — once for the whole batch: the codes read
    // partition-prunes to the UNION of probed cells, and each query's
    // ADC covers only ITS OWN probed cells
    val short = Similarity.shortlist(Similarity.adc(
        Similarity.inProbed(Manifest.read(spark, s"$root/codes"), probes),
        Similarity.lut(Manifest.read(spark, s"$root/books"), qset, m,
          dim / m)),
      refineFactor * topK)
    // exact re-rank: shortlist-sized join into the vector store — the
    // external id-keyed table, or (index-resident) the probed cells'
    // own vector files, pruned to the same cells
    val vmap = vectorStore match {
      case Some(vs) => Similarity.vecRows(vs, idCol, vecCol)
      case None => Manifest.read(spark, s"$root/vecs")
        .filter(col("centroid_id").isin(probes.map(_._2).distinct: _*))
        .select(col("id"), col("v"))
    }
    Similarity.rerank(short, vmap, qset, topK)
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
