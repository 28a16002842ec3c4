package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.sources.{Fixtures, IvfPqIndex, Manifest, VectorIndex}

/** Characterization pins for the IVF/PQ kernel on one clustered
  * fixture (`Fixtures.clusteredEmbeddings`: 60 vectors, 8-d, 4
  * clusters): the k-means assignment, the PQ codebooks and codes, the
  * trained `VectorIndex` pivots, and the `IvfPqIndex` cell assignment
  * and partial-probe serve. Ids, cells and codes compare exactly,
  * doubles to 1e-9. */
class AnnKernelSpec extends SparkSpec {

  private def fix = Fixtures.clusteredEmbeddings(spark, 60, dim = 8,
    nClusters = 4)

  private def newRoot(tag: String) = "file://" + java.nio.file.Files
    .createTempDirectory(s"graft-kernel-$tag").toString

  private def close(got: Seq[Double], want: Seq[Double],
                    what: String): Unit = {
    assert(got.size == want.size, s"$what: ${got.size} != ${want.size}")
    got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
      assert(math.abs(g - w) <= 1e-9, s"$what[$i]: $g != $w")
    }
  }

  test("kmeansAssign (cid, sim) per vector") {
    val got = Similarity.kmeansAssign(fix, "vec_id", "embedding",
        k = 4, iters = 2)
      .select("vec_id", "cid", "sim").orderBy("vec_id").collect()
    assert(got.map(_.getLong(0)).toSeq == (0L until 60L))
    assert(got.map(_.getLong(1)).mkString ==
      "111313002233033033332311002113232010331033331031023202121002")
    close(got.map(_.getDouble(2)).toSeq, Seq(
      0.9991423566485145, 0.9990586201654498, 0.9994346284408899,
      0.9975211317278255, 0.9988434397846702, 0.9990616478069901,
      0.998874286083123, 0.9986110776249206, 0.9990238432562099,
      0.9981206759924884, 0.9989524608269834, 0.9984825034888363,
      0.9988376446854068, 0.9978202647445541, 0.9987163134061869,
      0.9988009697513235, 0.9976476677560568, 0.9992903681548544,
      0.9980443811873974, 0.9991205423117288, 0.9995381878308842,
      0.9980272009069161, 0.9997541242528464, 0.9995499592385411,
      0.9997361826873591, 0.9992747702499583, 0.9991269673402009,
      0.999291004718199, 0.9989667771457101, 0.9988883373663545,
      0.9980753130470646, 0.998821209977815, 0.9986799800474316,
      0.998559227288236, 0.9991994031302268, 0.9990087914254897,
      0.9988190673370427, 0.9988512735719427, 0.9995008356228051,
      0.9995627024261965, 0.9985254509689405, 0.9983055882492617,
      0.9983928526494571, 0.9995100776865382, 0.999153264990993,
      0.9986737382186239, 0.9977389079107114, 0.9988123896726979,
      0.9986580107680586, 0.9985159188255468, 0.9994356678228031,
      0.9984710655547604, 0.9987303892995184, 0.9986288272121603,
      0.9995988248890191, 0.9982750486939183, 0.9987754343085073,
      0.9989002355541663, 0.9994899228570487, 0.9984890331133855),
      "sim")
  }

  test("pqCodebooks rows and pqEncode codes") {
    val books = Similarity.pqCodebooks(fix, "vec_id", "embedding",
      dim = 8, m = 2, k = 4, iters = 2)
    val rows = books.orderBy("m", "cid").collect()
    val want = Seq(
      (0, 0L, Seq(0.9455014845156777, 0.08019288770987519,
        -0.09297143122114773, 0.5893961175261732)),
      (0, 1L, Seq(-0.5574298289076737, -0.31636603242252026,
        -0.593259800161856, 0.34506993955001236)),
      (0, 2L, Seq(-0.06645032221491894, -0.4192627270736367,
        0.5024273894636123, 0.06237586237814115)),
      (0, 3L, Seq(-0.4873553867073497, -0.4910061461123405,
        -0.483064060981269, 0.2589095836330671)),
      (1, 0L, Seq(1.0043802819131609, 0.85445094534329,
        -0.2580751204813298, 0.927917909568974)),
      (1, 1L, Seq(0.0490987165997337, 0.36264448489528156,
        -0.17860909790865012, -0.986903499116722)),
      (1, 2L, Seq(-0.8389623605709692, 0.4010694211497057,
        0.39845245704901494, -0.6787710072366858)),
      (1, 3L, Seq(-0.30214695795771795, -0.10207796694511281,
        -0.7340645775814274, -0.8840994916789767)))
    assert(rows.map(r => (r.getInt(0), r.getLong(1))).toSeq ==
      want.map(w => (w._1, w._2)))
    close(rows.toSeq.flatMap(_.getSeq[Double](2)), want.flatMap(_._3),
      "codebook")
    // per vector id, its codes in subspace order
    val codes = Similarity.pqEncode(fix, "vec_id", "embedding", books,
        dim = 8, m = 2)
      .orderBy("id").collect()
      .map(_.getSeq[Int](1).mkString)
    assert(codes.mkString(" ") ==
      "00 00 00 11 00 11 23 23 32 32 11 11 23 11 11 23 11 11 11 11 " +
      "32 11 00 00 23 23 32 00 00 11 32 11 32 23 00 23 11 11 00 23 " +
      "11 11 11 11 00 23 11 00 23 32 11 32 23 32 00 32 00 23 23 32")
  }

  test("VectorIndex header pivots with trainIters = 2") {
    val root = newRoot("vidx") + "/v"
    VectorIndex.create(spark, root, fix, "vec_id", "embedding",
      nCells = 4, trainIters = 2)
    val head = Manifest.latestVersion(spark, root).get
    val pivots = Manifest.snapshotMeta(spark, root, head)
      .meta("vidx.pivots").split(";").map(_.split(",").map(_.toDouble))
    assert(pivots.length == 4 && pivots.forall(_.length == 8))
    close(pivots.toSeq.flatMap(_.toSeq), Seq(
      0.9536755477939733, 0.0773176314518787, -0.08150312914513051,
      0.5904889702703805, 1.0031004496803508, 0.8430183853697961,
      -0.26031048705801363, 0.9383123926888219, 0.9250663263199385,
      0.08738102835486643, -0.12164218641119076, 0.5866639856656548,
      1.0075798624951857, 0.8830323452770245, -0.25248670403962026,
      0.9019317017693538, -0.33514721929893965, -0.2553505221741008,
      0.02359063109782122, 0.24499036658555273, -0.09139955322324697,
      0.17675550415912372, -0.4007912897777611, -0.9457818961416237,
      -0.18713593297764997, -0.8526649183487859, -0.1848410564580594,
      0.009755251501602204, -0.8389623605709692, 0.40106942114970556,
      0.39845245704901494, -0.678771007236686), "pivot")
  }

  test("the training sample of a parquet-backed source reaches more " +
    "than one partition and keeps the hash-prefix rows") {
    val path = newRoot("sample") + "/emb"
    fix.write.parquet(path)
    val src = spark.read.parquet(path)
    val sample = Similarity.trainSample(src, "vec_id", "pqtrain", 32)
    assert(sample.rdd.getNumPartitions > 1)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ids(sample) ==
      ids(Similarity.hashPrefix(src, "vec_id", "pqtrain", 32)))
    assert(ids(sample).size == 32)
  }

  test("IvfPqIndex cell assignment and partial-probe searchBatch rows") {
    val root = newRoot("pq") + "/pq"
    IvfPqIndex.create(spark, root, fix, "vec_id", "embedding", dim = 8,
      nCells = 4, m = 2, pqK = 4, iters = 2, trainSample = 32,
      storeVectors = true)
    val cells = Manifest.read(spark, root)
      .select("id", "centroid_id").distinct().orderBy("id").collect()
    assert(cells.map(_.getLong(0)).toSeq == (0L until 60L))
    assert(cells.map(_.getLong(1)).mkString(",") ==
      "2,2,2,19,2,19,48,48,19,19,19,19,48,19,19,48,19,19,19,19,19," +
      "19,47,47,48,48,19,47,2,19,19,19,19,48,47,48,19,19,2,48,19,19," +
      "19,19,2,48,19,47,48,19,19,19,48,19,2,19,2,48,48,19")
    val queries = fix.filter(col("vec_id").isin(3L, 17L, 42L))
    val got = IvfPqIndex.searchBatch(spark, root, None, queries,
        "vec_id", "embedding", "vec_id", topK = 5, nProbe = 1,
        refineFactor = 2)
      .orderBy("query_id", "l2_dist", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val want = Seq(
      (3L, 10L, 0.010078), (3L, 17L, 0.010725), (3L, 11L, 0.013876),
      (3L, 5L, 0.016892), (3L, 19L, 0.022025), (17L, 5L, 0.002941),
      (17L, 14L, 0.005659), (17L, 19L, 0.00818), (17L, 10L, 0.010587),
      (17L, 3L, 0.010725), (42L, 17L, 0.010756), (42L, 3L, 0.011174),
      (42L, 16L, 0.013792), (42L, 5L, 0.014194), (42L, 10L, 0.014982))
    assert(got.map(r => (r._1, r._2)) == want.map(r => (r._1, r._2)))
    close(got.map(_._3), want.map(_._3), "l2_dist")
  }
}
