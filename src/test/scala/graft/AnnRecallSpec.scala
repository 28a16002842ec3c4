package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** The ANN recall harness's machinery invariants (q224's operator):
  * exactness when nothing is pruned, digest replayability, and the
  * shared-serving-state cache lifecycle. */
class AnnRecallSpec extends SparkSpec {

  import spark.implicits._

  // 12 deterministic 8-dim vectors with a planted neighborhood:
  // ids 0-3 cluster around e1, ids 4-7 around e2, ids 8-11 spread
  private def emb = (0 until 12).map { i =>
    val base = if (i < 4) Array(10.0, 0, 0, 0, 0, 0, 0, 0)
    else if (i < 8) Array(0.0, 10.0, 0, 0, 0, 0, 0, 0)
    else Array(2.0, 2.0, 2.0, 2, 2, 2, 2, 2)
    (i.toLong, base.zipWithIndex
      .map { case (x, j) => (x + 0.1 * ((i * 7 + j) % 5)).toFloat })
  }.toDF("vec_id", "embedding")

  test("with nothing pruned (nProbe = nCentroids, m = 1, pqK >= n, " +
    "iters = 0) every path reproduces the exact top-k: recall 1.0") {
    val r = Similarity.annRecall(emb, "vec_id", "embedding",
        Seq(1L, 6L), k = 3, dim = 8,
        nCentroids = 4, nProbe = 4, m = 1, pqK = 12, iters = 0)
      .orderBy("query_id").collect()
    CacheScope.releaseAll()
    assert(r.length == 2)
    for (row <- r) {
      assert(row.getDouble(3) == 1.0, s"ivf_recall in $row")
      assert(row.getDouble(4) == 1.0, s"pq_recall in $row")
      assert(row.getDouble(5) == 1.0, s"ivfpq_recall in $row")
      assert(row.getDouble(6) == 1.0, s"pq_refined_recall in $row")
    }
  }

  test("ADC re-rank (the refine step) recovers exact top-k whenever " +
    "the shortlist covers it: with shortlist = n, refined recall is " +
    "1.0 even under coarse quantization") {
    val r = Similarity.annRecall(emb, "vec_id", "embedding",
        Seq(1L, 6L), k = 3, dim = 8,
        nCentroids = 4, nProbe = 4, m = 2, pqK = 2, iters = 0,
        refineFactor = 4) // 12 candidates = the whole corpus
      .collect()
    CacheScope.releaseAll()
    for (row <- r)
      assert(row.getDouble(6) == 1.0, s"pq_refined_recall in $row")
  }

  test("exact digests equal the md5 of the rank-ordered exact top-k " +
    "ids (the DuckDB-replayable anchor)") {
    val r = Similarity.annRecall(emb, "vec_id", "embedding",
        Seq(1L), k = 3, dim = 8,
        nCentroids = 4, nProbe = 4, m = 1, pqK = 12, iters = 0)
      .collect()(0)
    CacheScope.releaseAll()
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        queryId = 1L, k = 3)
      .collect().map(_.getLong(0))
    val expected = java.security.MessageDigest.getInstance("MD5")
      .digest(exact.mkString(",").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(r.getString(1) == expected) // cosine digest
    // planted neighborhood: query 1's neighbors are its cluster
    assert(exact.toSet.subsetOf(Set(0L, 2L, 3L)))
  }

  test("pruning hard (1 probe of 4 cells) keeps recall defined and " +
    "in [0,1]; missing approx hits coalesce to 0, not null") {
    val r = Similarity.annRecall(emb, "vec_id", "embedding",
        Seq(1L, 6L, 9L), k = 3, dim = 8,
        nCentroids = 4, nProbe = 1, m = 2, pqK = 4, iters = 1)
      .collect()
    CacheScope.releaseAll()
    assert(r.length == 3)
    for (row <- r; i <- 3 to 6) {
      val v = row.getDouble(i)
      assert(v >= 0.0 && v <= 1.0, s"col $i in $row")
    }
  }

  test("serving state registers with CacheScope and the operation " +
    "boundary drains it") {
    CacheScope.releaseAll()
    Similarity.annRecall(emb, "vec_id", "embedding", Seq(1L),
      k = 3, dim = 8, nCentroids = 4, nProbe = 2, m = 2, pqK = 4,
      iters = 1).collect()
    // at least index + codes (the codebooks are m·pqK local rows,
    // nothing to cache; inner operators may register more of their
    // own stage frames)
    assert(CacheScope.pending >= 2)
    CacheScope.releaseAll()
    assert(CacheScope.pending == 0)
  }
}
