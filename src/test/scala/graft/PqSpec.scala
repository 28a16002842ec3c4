package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Product-quantization contracts: degenerate-exactness (k = n,
  * iters = 0 makes ADC ≡ exact L2), codebook shape under empty
  * clusters, and recall on clusterable data. */
class PqSpec extends SparkSpec {
  import spark.implicits._

  // 12 vectors in 4-dim: three tight clusters around distinct corners
  private def clustered() = Seq(
    (0L, Array(0f, 0f, 0f, 0f)), (1L, Array(0.1f, 0f, 0f, 0f)),
    (2L, Array(0f, 0.1f, 0f, 0f)), (3L, Array(0.1f, 0.1f, 0f, 0f)),
    (10L, Array(5f, 5f, 0f, 0f)), (11L, Array(5.1f, 5f, 0f, 0f)),
    (12L, Array(5f, 5.1f, 0f, 0f)), (13L, Array(5.1f, 5.1f, 0f, 0f)),
    (20L, Array(0f, 0f, 9f, 9f)), (21L, Array(0f, 0f, 9.1f, 9f)),
    (22L, Array(0f, 0f, 9f, 9.1f)), (23L, Array(0f, 0f, 9.1f, 9.1f)))
    .toDF("vec_id", "embedding")

  test("pqTopK with k = n, iters = 0 degenerates to exact L2 ranking") {
    val emb = clustered()
    // every vector becomes its own centroid → codes reconstruct
    // exactly → ADC distance = true squared L2
    val got = Similarity.pqTopK(emb, "vec_id", "embedding",
        queryId = 0L, topK = 5, dim = 4, m = 1, k = 12, iters = 0)
      .select("vec_id").as[Long].collect().toSeq
    // exact L2 ranking from the construction: cluster-0 mates first
    // (0.1², 0.1², 0.1²+0.1² ...), then the 5-corner cluster
    assert(got == Seq(1L, 2L, 3L, 10L, 11L))
  }

  test("codebooks stay exactly m·k rows even when clusters empty out") {
    val emb = clustered()
    val books = Similarity.pqCodebooks(emb, "vec_id", "embedding",
      dim = 4, m = 2, k = 8, iters = 2)
    assert(books.count() == 2L * 8)
    assert(books.groupBy("m").count().select("count")
      .as[Long].collect().toSet == Set(8L))
  }

  test("ADC recall on clusterable data: PQ top-3 of a cluster member " +
    "is its cluster (codes never cross clusters this separated)") {
    val emb = clustered()
    val got = Similarity.pqTopK(emb, "vec_id", "embedding",
        queryId = 10L, topK = 3, dim = 4, m = 2, k = 3, iters = 2)
      .select("vec_id").as[Long].collect().toSet
    assert(got == Set(11L, 12L, 13L), s"got $got")
  }

  test("ivfPqTopK: probing every cell makes the IVF layer vanish " +
    "(row-for-row equal to pqTopK at the same codebook shape)") {
    val emb = clustered()
    val ivfpq = Similarity.ivfPqTopK(emb, "vec_id", "embedding",
        queryId = 0L, topK = 6, dim = 4, nCentroids = 3, nProbe = 3,
        m = 2, k = 3, iters = 1)
      .select(col("vec_id"), round(col("approx_dist"), 9).as("d"))
      .as[(Long, Double)].collect().toSeq
    val pq = Similarity.pqTopK(emb, "vec_id", "embedding",
        queryId = 0L, topK = 6, dim = 4, m = 2, k = 3, iters = 1)
      .select(col("vec_id"), round(col("approx_dist"), 9).as("d"))
      .as[(Long, Double)].collect().toSeq
    assert(ivfpq == pq, s"ivfpq $ivfpq vs pq $pq")
  }

  test("pqTopKRefined: a shortlist covering the corpus re-ranks to the " +
    "exact L2 top-k regardless of how lossy the codebook is") {
    val emb = clustered()
    // m=2, k=2, 0 iters: a deliberately TERRIBLE codebook (12 vectors
    // share 2 codewords per subspace) — raw ADC ranking is garbage, but
    // refineFactor·topK = 15 ≥ n, so the exact re-rank must recover the
    // true top-5 with true (rounded) distances
    val got = Similarity.pqTopKRefined(emb, "vec_id", "embedding",
        queryId = 0L, topK = 5, dim = 4, m = 2, k = 2, iters = 0,
        refineFactor = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got.map(_._1) == Seq(1L, 2L, 3L, 10L, 11L))
    // true squared L2, 6dp: 0.1²=0.01 for the first three... then 50, 50.01
    assert(got.map(_._2).take(3).forall(d => math.abs(d - 0.01) < 1e-9
      || math.abs(d - 0.02) < 1e-9))
    assert(math.abs(got(3)._2 - 50.0) < 1e-9)
  }

  test("pqTopKRefined: a partial shortlist still returns topK rows " +
    "ranked by exact distance within the shortlist") {
    val emb = clustered()
    val got = Similarity.pqTopKRefined(emb, "vec_id", "embedding",
        queryId = 10L, topK = 3, dim = 4, m = 2, k = 4, iters = 1,
        refineFactor = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got.size == 3)
    // distances ascend and the query row is excluded
    assert(got.map(_._2) == got.map(_._2).sorted)
    assert(!got.map(_._1).contains(10L))
  }

  test("ivfPqTopK: degenerate parameters (all cells, m=1, own-codeword, " +
    "0 iters) reproduce exact L2 — and restricted probes stay in-cell " +
    "on separated clusters") {
    val emb = clustered()
    val exact = Similarity.ivfPqTopK(emb, "vec_id", "embedding",
        queryId = 0L, topK = 5, dim = 4, nCentroids = 2, nProbe = 2,
        m = 1, k = 12, iters = 0)
      .select("vec_id").as[Long].collect().toSeq
    assert(exact == Seq(1L, 2L, 3L, 10L, 11L)) // same as pqTopK exact test
    // nProbe=1 on tightly separated clusters: results come from the
    // query's own cluster only (whatever the probed cell contains, the
    // top hits are the cluster mates — distances to them are ~0.01-0.02
    // vs >=50 cross-cluster)
    val near = Similarity.ivfPqTopK(emb, "vec_id", "embedding",
        queryId = 10L, topK = 3, dim = 4, nCentroids = 3, nProbe = 1,
        m = 2, k = 3, iters = 2)
      .select("vec_id").as[Long].collect().toSet
    assert(near.subsetOf(Set(11L, 12L, 13L)), s"got $near")
  }

  test("pqTopKRefinedBatch equals pqTopKRefined per query at the same " +
    "settings — the batch is amortization, never an approximation " +
    "change") {
    val emb = clustered()
    val queries = emb.filter(col("vec_id").isin(0L, 10L, 21L))
    val batch = Similarity.pqTopKRefinedBatch(emb, queries, "vec_id",
        "embedding", "vec_id", topK = 3, dim = 4, m = 2, k = 4,
        iters = 1, refineFactor = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.map(x => (x._2, x._3)).sortBy(_._2)
        .toSeq).toMap
    for (q <- Seq(0L, 10L, 21L)) {
      val single = Similarity.pqTopKRefined(emb, "vec_id", "embedding",
          queryId = q, topK = 3, dim = 4, m = 2, k = 4, iters = 1,
          refineFactor = 4)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(batch(q) == single, s"query $q: ${batch(q)} != $single")
    }
  }
}
