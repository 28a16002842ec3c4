package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.sources.{IvfPqIndex, Manifest}

/** The persisted IVF-PQ serving artifact: batch ≡ the in-memory batch
  * operator at probe-all (the q250↔q245 equivalence), partial-probe
  * exactness on clusterable data, per-query cell restriction, real
  * partition pruning of the codes read, two Spark jobs per warm
  * stored-vector serve, and crash-point atomicity of `create`. */
class IvfPqIndexSpec extends SparkSpec {
  import spark.implicits._

  private def newRoot(tag: String) = "file://" + java.nio.file.Files
    .createTempDirectory(s"graft-pqidx-$tag").toString + "/idx"

  // three tight, well-separated clusters (unit-normalized directions
  // would also work; L2 separation is what the re-rank scores)
  private def clustered() = Seq(
    (0L, Array(0f, 0f, 0f, 0f)), (1L, Array(0.1f, 0f, 0f, 0f)),
    (2L, Array(0f, 0.1f, 0f, 0f)), (3L, Array(0.1f, 0.1f, 0f, 0f)),
    (10L, Array(5f, 5f, 0f, 0f)), (11L, Array(5.1f, 5f, 0f, 0f)),
    (12L, Array(5f, 5.1f, 0f, 0f)), (13L, Array(5.1f, 5.1f, 0f, 0f)),
    (20L, Array(0f, 0f, 9f, 9f)), (21L, Array(0f, 0f, 9.1f, 9f)),
    (22L, Array(0f, 0f, 9f, 9.1f)), (23L, Array(0f, 0f, 9.1f, 9.1f)))
    .toDF("vec_id", "embedding")

  test("searchBatch at probe-all is row-equal to pqTopKRefinedBatch " +
    "at the same settings (the artifact is amortization, not an " +
    "approximation change)") {
    val emb = clustered()
    val root = newRoot("batcheq")
    IvfPqIndex.create(spark, root, emb, "vec_id", "embedding",
      dim = 4, nCells = 3, m = 2, pqK = 4, iters = 1, trainSample = 0)
    val queries = emb.filter(col("vec_id").isin(0L, 10L, 20L))
    val got = IvfPqIndex.searchBatch(spark, root, Some(emb), queries,
        "vec_id", "embedding", "vec_id", topK = 3, nProbe = 3,
        refineFactor = 4)
      .orderBy("query_id", "l2_dist", "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val want = Similarity.pqTopKRefinedBatch(emb, queries, "vec_id",
        "embedding", "vec_id", topK = 3, dim = 4, m = 2, k = 4,
        iters = 1, refineFactor = 4)
      .orderBy("query_id", "l2_dist", "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == want.toSeq)
  }

  // direction-separated clusters, ids PLACED so the three hash-lowest
  // ids (2, 12, 1 under pmod(xxhash64, 1e9+7) — the ivfPivots rule)
  // land one per cluster: the 3-cell index then has one pivot per
  // direction, making the partial-probe expectations deterministic
  private def directional() = Seq(
    (2L, Array(1f, 0f, 0f, 0f)), (0L, Array(0.98f, 0.02f, 0f, 0f)),
    (3L, Array(0.96f, 0.04f, 0f, 0f)), (11L, Array(0.94f, 0.06f, 0f, 0f)),
    (12L, Array(0f, 1f, 0f, 0f)), (10L, Array(0f, 0.98f, 0.02f, 0f)),
    (13L, Array(0f, 0.96f, 0.04f, 0f)), (20L, Array(0f, 0.94f, 0.06f, 0f)),
    (1L, Array(0f, 0f, 1f, 0f)), (21L, Array(0f, 0f, 0.98f, 0.02f)),
    (22L, Array(0f, 0f, 0.96f, 0.04f)), (23L, Array(0f, 0f, 0.94f, 0.06f)))
    .toDF("vec_id", "embedding")

  test("partial probe on clustered data: each query's top-k is its " +
    "own cluster, served from its own probed cell only") {
    val emb = directional()
    val root = newRoot("partial")
    IvfPqIndex.create(spark, root, emb, "vec_id", "embedding",
      dim = 4, nCells = 3, m = 2, pqK = 4, iters = 2, trainSample = 0)
    val queries = emb.filter(col("vec_id").isin(10L, 21L))
    val got = IvfPqIndex.searchBatch(spark, root, Some(emb), queries,
        "vec_id", "embedding", "vec_id", topK = 3, nProbe = 1,
        refineFactor = 4)
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(1)).toSet).toMap
    assert(got(10L) == Set(12L, 13L, 20L), s"got $got")
    assert(got(21L) == Set(1L, 22L, 23L), s"got $got")
  }

  test("single-query search equals exact L2 top-k at probe-all with " +
    "a covering shortlist") {
    val emb = clustered()
    val root = newRoot("single")
    IvfPqIndex.create(spark, root, emb, "vec_id", "embedding",
      dim = 4, nCells = 3, m = 2, pqK = 4, iters = 1, trainSample = 0)
    val got = IvfPqIndex.search(spark, root, Some(emb),
        emb.filter(col("vec_id") === 0L), "vec_id", "embedding",
        "vec_id", topK = 5, nProbe = 3, refineFactor = 3)
      .select("vec_id").as[Long].collect().toSeq
    // exact L2 order from the construction (shortlist 15 > corpus)
    assert(got == Seq(1L, 2L, 3L, 10L, 11L))
  }

  test("the batch codes read partition-prunes to the probed-cell " +
    "union (unprobed cells' files never enter the scan)") {
    val emb = directional()
    val root = newRoot("prune")
    IvfPqIndex.create(spark, root, emb, "vec_id", "embedding",
      dim = 4, nCells = 3, m = 2, pqK = 4, iters = 2, trainSample = 0)
    // one query, one probed cell → the scan must plan strictly fewer
    // files than the table holds (codes commit clustered by cell)
    val all = ScanFiles.live(spark, root)
    val queries = emb.filter(col("vec_id") === 10L)
    val served = IvfPqIndex.searchBatch(spark, root, Some(emb), queries,
      "vec_id", "embedding", "vec_id", topK = 3, nProbe = 1,
      refineFactor = 4)
    // the codes scan is the only one whose output carries the partition
    // column; count the files it planned after partition pruning
    val planned = ScanFiles.planned(served,
      _.output.exists(_.name == "centroid_id"))
    assert(all >= 3, s"expected >=3 cell files, got $all")
    assert(planned > 0 && planned < all,
      s"probed scan planned $planned of $all files — pruning inactive")
  }

  test("index-resident vectors (storeVectors): vectorStore = None " +
    "re-ranks from the probed cells' own files, row-equal to the " +
    "external-store serve") {
    val emb = directional()
    val root = newRoot("resident")
    IvfPqIndex.create(spark, root, emb, "vec_id", "embedding",
      dim = 4, nCells = 3, m = 2, pqK = 4, iters = 2, trainSample = 0,
      storeVectors = true)
    val queries = emb.filter(col("vec_id").isin(10L, 21L))
    def rows(vs: Option[org.apache.spark.sql.DataFrame]) =
      IvfPqIndex.searchBatch(spark, root, vs, queries,
          "vec_id", "embedding", "vec_id", topK = 3, nProbe = 1,
          refineFactor = 4)
        .orderBy("query_id", "l2_dist", "vec_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSeq
    assert(rows(None) == rows(Some(emb)))
    // an index without stored vectors refuses a None store loudly
    val bare = newRoot("bare")
    IvfPqIndex.create(spark, bare, emb, "vec_id", "embedding",
      dim = 4, nCells = 3, m = 2, pqK = 4, iters = 1, trainSample = 0)
    val e = intercept[IllegalArgumentException](
      IvfPqIndex.searchBatch(spark, bare, None, queries,
        "vec_id", "embedding", "vec_id", topK = 3, nProbe = 3,
        refineFactor = 4))
    assert(e.getMessage.contains("storeVectors"), e.getMessage)
  }

  test("a warm stored-vector searchBatch runs at most two Spark jobs") {
    val emb = directional()
    val root = newRoot("jobs")
    IvfPqIndex.create(spark, root, emb, "vec_id", "embedding",
      dim = 4, nCells = 3, m = 2, pqK = 4, iters = 1, trainSample = 0,
      storeVectors = true)
    def serve() = IvfPqIndex.searchBatch(spark, root, None,
      emb.filter(col("vec_id").isin(10L, 21L)), "vec_id", "embedding",
      "vec_id", topK = 3, nProbe = 2, refineFactor = 2).collect()
    serve()
    val (rows, jobs) = SparkJobs.during(spark)(serve())
    assert(rows.length == 6)
    assert(jobs <= 2, s"searchBatch ran $jobs Spark jobs")
  }

  spark.sparkContext.hadoopConfiguration.set("fs.crashfs.impl",
    classOf[CrashPointFileSystem].getName)

  // a crash at any file-system mutation leaves no version (serving
  // refuses; a retry builds the artifact) or the whole artifact, and
  // removing orphans afterwards changes no answer
  test("create: every crash point leaves no artifact or the whole one") {
    val emb = clustered().coalesce(1)
    val queries = emb.filter(col("vec_id").isin(0L, 10L))
    val warehouse = "crashfs://" + java.nio.file.Files
      .createTempDirectory("graft-pqidx-crash").toString
    def create(root: String) = IvfPqIndex.create(spark, root, emb,
      "vec_id", "embedding", dim = 4, nCells = 3, m = 2, pqK = 4,
      iters = 1, trainSample = 0, storeVectors = true)
    def served(root: String) = IvfPqIndex.searchBatch(spark, root, None,
        queries, "vec_id", "embedding", "vec_id", topK = 3, nProbe = 2,
        refineFactor = 2)
      .orderBy("query_id", "l2_dist", "vec_id").collect().toSeq
    val clean = s"$warehouse/clean"
    val m0 = CrashPointFileSystem.mutations
    create(clean)
    val total = CrashPointFileSystem.mutations - m0
    val want = served(clean)
    assert(total > 0 && want.size == 6)
    (0L to total).foreach { n =>
      val root = s"$warehouse/at$n"
      CrashPointFileSystem.crashAfter(n)
      try create(root)
      catch { case scala.util.control.NonFatal(_) => () }
      finally CrashPointFileSystem.reset()
      if (Manifest.latestVersion(spark, root).isEmpty) {
        val e = intercept[IllegalStateException](served(root))
        assert(e.getMessage.contains("not initialized"), e.getMessage)
        create(root)
      }
      assert(served(root) == want, s"crash after $n of $total mutations")
      Thread.sleep(5) // orphans must be strictly older than the cutoff
      Manifest.removeOrphans(spark, root, graceMillis = 0L)
      assert(served(root) == want, s"vacuum after crash point $n")
    }
  }
}
