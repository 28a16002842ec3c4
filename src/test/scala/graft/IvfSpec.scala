package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity

class IvfSpec extends SparkSpec {

  test("semDedup flags the higher-id twin of an identical pair, " +
    "never a unique vector") {
    import spark.implicits._
    import graft.operators.Similarity
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f, 0.0f)),   // twin of 1 → dup
      (3L, Array(0.0f, 1.0f, 0.0f)),
      (4L, Array(0.001f, 1.0f, 0.0f)), // near-twin of 3 → dup
      (5L, Array(0.0f, 0.0f, 1.0f)))   // unique
      .toDF("vec_id", "embedding")
    val out = Similarity
      .semDedup(emb, "vec_id", "embedding", k = 2, iters = 1,
        threshold = 0.95)
      .select("vec_id", "is_dup").as[(Long, Boolean)].collect().toMap
    assert(out(2L), "identical twin not flagged")
    assert(!out(1L), "keep-lowest-id policy violated")
    assert(out(4L) || out(3L), "near-twin pair not flagged")
    assert(!(out(3L) && out(4L)), "both twins dropped")
    assert(!out(5L), "unique vector flagged")
    // survivors keep exactly one representative per semantic group
    assert(out.values.count(_ == false) == 3)
  }

  test("semDedup cluster-size fence: a skewed corpus that collapses " +
    "into one cluster fails loudly instead of going all-pairs") {
    import spark.implicits._
    import graft.operators.Similarity
    // 64 near-identical vectors + 1 outlier, k=2: (at least) 64 land
    // in one cluster — over an explicit bound of 16, the quadratic
    // fence must throw, naming the violation
    val skewed = ((1L to 64L).map(i =>
      (i, Array(1.0f, 0.0001f * i, 0.0f))) :+
      (65L, Array(0.0f, 0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.semDedup(skewed, "vec_id", "embedding", k = 2,
        iters = 1, threshold = 0.99, maxClusterSize = 16L)
        .count()
    }
    assert(e.getMessage.contains("cluster-size fence"), e.getMessage)
    // the same corpus under the default (auto) bound stays fine —
    // small corpora never trip the floor
    assert(Similarity.semDedup(skewed, "vec_id", "embedding", k = 2,
      iters = 1, threshold = 0.99).count() == 65L)
  }

  test("semDedup cache registry is bounded: repeated calls evict the " +
    "oldest assignment cache instead of accumulating for the session") {
    import spark.implicits._
    Similarity.releaseCaches()
    val before = spark.sparkContext.getPersistentRDDs.size
    val emb = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val outs = (1 to 7).map { _ =>
      Similarity.semDedup(emb, "vec_id", "embedding", k = 2, iters = 1,
        threshold = 0.99)
    }
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after - before <= 4,
      s"semDedup grew the persistent-RDD set by ${after - before}")
    // results stay correct even when their cache was evicted —
    // lineage is kept, the evicted assignment recomputes
    assert(outs.head.filter(!col("is_dup")).count() == 2L)
    Similarity.releaseCaches()
  }

  import spark.implicits._

  // Two tight clusters around orthogonal axes + the query vector.
  private def emb = {
    val a = (1L to 20L).map(i =>
      (i, Array(1.0f, 0.01f * i, 0.0f, 0.0f)))
    val b = (21L to 40L).map(i =>
      (i, Array(0.0f, 0.01f * i, 1.0f, 0.0f)))
    (a ++ b).toDF("vec_id", "embedding")
  }

  test("ivfIndex assigns every vector to exactly one cell") {
    val idx = Similarity.ivfIndex(emb, "vec_id", "embedding", 4)
    assert(idx.count() == 40)
    assert(idx.filter(col("centroid_id") === -1L).count() == 0)
    // same-cluster vectors overwhelmingly share cells: vector 1 and 2
    val cells = idx.filter(col("vec_id").isin(1L, 2L))
      .select("centroid_id").as[Long].collect()
    assert(cells.length == 2)
  }

  test("ivfTopK finds same-cluster neighbors, ranked by cosine") {
    val top = Similarity.ivfTopK(emb, "vec_id", "embedding",
        queryId = 1L, k = 5, nCentroids = 4, nProbe = 2)
      .select("vec_id").as[Long].collect()
    assert(top.nonEmpty)
    // the query is in cluster A (x-axis): neighbors must come from A
    assert(top.forall(_ <= 20L), top.mkString(","))
  }

  test("ivfTopK with full probes equals brute force") {
    val ivf = Similarity.ivfTopK(emb, "vec_id", "embedding",
        queryId = 1L, k = 5, nCentroids = 4, nProbe = 4)
      .select("vec_id").as[Long].collect().toSeq
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        queryId = 1L, k = 5)
      .select("vec_id").as[Long].collect().toSeq
    assert(ivf == brute)
  }

  test("kmeansAssign separates orthogonal planted clusters and labels " +
    "every vector") {
    val got = Similarity.kmeansAssign(emb, "vec_id", "embedding",
      k = 2, iters = 2).collect()
    assert(got.length == 40)
    // within each planted group, one cid; across groups, different cids
    val byId = got.map(r => r.getAs[Long]("vec_id") ->
      r.getAs[Long]("cid")).toMap
    val cidA = (1L to 20L).map(byId).distinct
    val cidB = (21L to 40L).map(byId).distinct
    assert(cidA.size == 1, s"cluster A split: $cidA")
    assert(cidB.size == 1, s"cluster B split: $cidB")
    assert(cidA.head != cidB.head)
    // refined centroids sit at the cluster cores: similarity is high
    assert(got.forall(_.getAs[Double]("sim") > 0.95))
  }

  test("kmeansAssign drops a cluster that empties: duplicate init " +
    "vectors leave the higher cid memberless, and it never returns") {
    // portable-hash order (salt "kmeans") of ids 1-12 starts 6, 8, 11:
    // cids 0 and 1 seed on the SAME vector, so every tie goes to cid 0
    // and cid 1 empties in the first pass. Carried forward, it would sit
    // exactly on ids 6 and 8 (cosine 1.0) and win them back at the
    // final assignment; dropped, it is gone.
    val x = Array(1f, 0f, 0f)
    val dup = Seq(6L -> x, 8L -> x, 1L -> Array(1f, 0.2f, 0f),
      2L -> Array(1f, 0f, 0.2f), 3L -> Array(1f, 0.1f, 0.1f),
      9L -> Array(1f, -0.1f, 0.1f), 11L -> Array(0f, 1f, 0f),
      4L -> Array(0.1f, 1f, 0f), 5L -> Array(0f, 1f, 0.1f),
      7L -> Array(0.05f, 1f, 0.05f), 10L -> Array(-0.1f, 1f, 0.1f),
      12L -> Array(0f, 1f, -0.1f)).toDF("vec_id", "embedding")
    val got = Similarity.kmeansAssign(dup, "vec_id", "embedding",
        k = 3, iters = 1)
      .select("vec_id", "cid").as[(Long, Long)].collect().toMap
    assert(got.values.toSet == Set(0L, 2L), s"got $got")
    assert(got(6L) == 0L && got(8L) == 0L, s"got $got")
    assert(Seq(11L, 4L, 5L, 7L, 10L, 12L).forall(got(_) == 2L),
      s"got $got")
  }

  test("kmeansAssign is deterministic across runs (portable-hash init)") {
    def run() = Similarity.kmeansAssign(emb, "vec_id", "embedding",
        k = 3, iters = 1)
      .select("vec_id", "cid").as[(Long, Long)].collect().toMap
    assert(run() == run())
  }
}
