package graft

import org.apache.spark.sql.functions._

import graft.sources.{Manifest, VectorIndex}

/** The persisted IVF vector index: exactness under probe-all, recall
  * subset under partial probe, frozen-pivot appends, and real
  * partition pruning on the probed cells. */
class VectorIndexSpec extends SparkSpec {

  import spark.implicits._

  private def newRoot(tag: String) = "file://" + java.nio.file.Files
    .createTempDirectory(s"graft-vidx-$tag").toString + "/v"

  // three visibly separated directions + noise
  private val vecs: Seq[(Long, Array[Float])] = Seq(
    1L -> Array(1f, 0f), 2L -> Array(0.95f, 0.05f),
    3L -> Array(0.9f, 0.1f), 4L -> Array(0f, 1f),
    5L -> Array(0.05f, 0.95f), 6L -> Array(0.1f, 0.9f),
    7L -> Array(-1f, 0f), 8L -> Array(-0.95f, -0.05f),
    9L -> Array(-0.9f, -0.1f), 10L -> Array(0.7f, 0.7f),
    11L -> Array(-0.7f, 0.7f), 12L -> Array(0.6f, 0.8f)
  ).map { case (i, v) => (i, v) }

  private def emb = vecs.toDF("vec_id", "embedding")

  private def cos(a: Array[Double], b: Array[Double]): Double = {
    val dot = a.zip(b).map { case (x, y) => x * y }.sum
    dot / (math.sqrt(a.map(x => x * x).sum) *
      math.sqrt(b.map(x => x * x).sum))
  }

  private def bruteTop(q: Array[Double], k: Int): Seq[Long] =
    vecs.map { case (i, v) => (i, cos(q, v.map(_.toDouble))) }
      .sortBy { case (i, c) => (-c, i) }.take(k).map(_._1)

  test("probe-all search is exact: row-equal to brute-force cosine " +
    "over the indexed corpus") {
    val root = newRoot("exact")
    VectorIndex.create(spark, root, emb, "vec_id", "embedding",
      nCells = 3)
    val q = Array(0.9, 0.2)
    val got = VectorIndex.search(spark, root, q, k = 5, nProbe = 3)
      .select("id").as[Long].collect().toSeq
    assert(got == bruteTop(q, 5))
  }

  test("partial probe returns a subset of the probe-all result's " +
    "universe and prunes the scan to the probed cells") {
    val root = newRoot("probe")
    VectorIndex.create(spark, root, emb, "vec_id", "embedding",
      nCells = 3)
    val q = Array(1.0, 0.0)
    val one = VectorIndex.search(spark, root, q, k = 12, nProbe = 1)
    val all = VectorIndex.search(spark, root, q, k = 12, nProbe = 3)
      .select("id").as[Long].collect().toSet
    assert(one.select("id").as[Long].collect().toSet.subsetOf(all))
    // top-1 must be found by the 1-cell probe: the query's own
    // direction cluster is the nearest cell
    assert(one.select("id").as[Long].collect().headOption ==
      bruteTop(q, 1).headOption)
    val planned = ScanFiles.planned(one)
    val total = ScanFiles.live(spark, root)
    assert(planned < total, s"1-cell probe planned $planned of $total files")
  }

  test("append assigns against the frozen create-time pivots and " +
    "probe-all search tracks the grown corpus exactly") {
    val root = newRoot("append")
    val (first, rest) = vecs.partition(_._1 <= 6L)
    VectorIndex.create(spark, root,
      first.toDF("vec_id", "embedding"), "vec_id", "embedding",
      nCells = 2)
    VectorIndex.append(spark, root,
      rest.toDF("vec_id", "embedding"), "vec_id", "embedding")
    val q = Array(-0.9, -0.1)
    val got = VectorIndex.search(spark, root, q, k = 4, nProbe = 2)
      .select("id").as[Long].collect().toSeq
    assert(got == bruteTop(q, 4))
    // two commits, one table; cell values stay within [0, nCells)
    val cells = Manifest.read(spark, root)
      .select("cell").distinct().as[Int].collect().toSet
    assert(cells.subsetOf(Set(0, 1)))
  }

  // payload: vec_id parity as the filter field
  private def embP = vecs.map { case (i, v) => (i, v, (i % 2).toInt) }
    .toDF("vec_id", "embedding", "parity")

  test("filtered ANN: payload predicate applies BEFORE ranking (top-k " +
    "are k SURVIVORS) and pushes into the index's parquet scan") {
    val root = newRoot("filter")
    VectorIndex.create(spark, root, embP, "vec_id", "embedding",
      nCells = 3, payloadCols = Seq("parity"))
    val q = Array(0.9, 0.2)
    val got = VectorIndex.search(spark, root, q, k = 4, nProbe = 3,
      filter = Some(col("parity") === 1))
    val ids = got.select("id").as[Long].collect().toSeq
    // brute force over odd ids only — pre-filter semantics
    val want = vecs.filter(_._1 % 2 == 1)
      .map { case (i, v) => (i, cos(q, v.map(_.toDouble))) }
      .sortBy { case (i, c) => (-c, i) }.take(4).map(_._1)
    assert(ids == want)
    // the scan's pushed-filter list names parity (`PushedFilters: [..]`
    // on a file scan, `pushed=[..]` on the connector scan)
    val plan = got.queryExecution.executedPlan.toString
    assert("(?i)pushed(filters)?[:=] ?\\[[^\\]]*parity".r
      .findFirstIn(plan).isDefined, plan.take(2000))
  }

  test("filtered ANN composes with partial probes (subset of the " +
    "filtered probe-all result) and appends carry the payload") {
    val root = newRoot("filterprobe")
    val (first, rest) = vecs.partition(_._1 <= 6L)
    VectorIndex.create(spark, root,
      first.map { case (i, v) => (i, v, (i % 2).toInt) }
        .toDF("vec_id", "embedding", "parity"),
      "vec_id", "embedding", nCells = 2, payloadCols = Seq("parity"))
    VectorIndex.append(spark, root,
      rest.map { case (i, v) => (i, v, (i % 2).toInt) }
        .toDF("vec_id", "embedding", "parity"),
      "vec_id", "embedding")
    val q = Array(1.0, 0.0)
    val even = col("parity") === 0
    val all = VectorIndex.search(spark, root, q, k = 12, nProbe = 2,
      filter = Some(even)).select("id").as[Long].collect().toSet
    val one = VectorIndex.search(spark, root, q, k = 12, nProbe = 1,
      filter = Some(even)).select("id").as[Long].collect().toSet
    assert(one.subsetOf(all))
    assert(all == vecs.map(_._1).filter(_ % 2 == 0).toSet) // appended too
  }

  private def metaOf(root: String): Map[String, String] =
    Manifest.snapshotMeta(spark, root,
      Manifest.latestVersion(spark, root).get).meta

  test("manifest-sourced refresh: no-op is commit-free, append-only " +
    "commits are incremental with FROZEN pivots, a source rewrite " +
    "forces a full rebuild that re-trains them") {
    val src = newRoot("rf-src"); val idx = newRoot("rf-idx")
    val (first, rest) = vecs.partition(_._1 <= 6L)
    Manifest.init(spark, src, first.toDF("vec_id", "embedding"))
    VectorIndex.createFromManifest(spark, src, idx, "vec_id",
      "embedding", nCells = 2)
    val pivots0 = metaOf(idx)("vidx.pivots")
    val v1 = Manifest.latestVersion(spark, idx).get
    assert(VectorIndex.refresh(spark, src, idx) == v1) // already current
    // append-only source commit → incremental refresh, pivots frozen
    Manifest.commitAppend(spark, src, rest.toDF("vec_id", "embedding"))
    assert(VectorIndex.refresh(spark, src, idx) == v1 + 1)
    assert(metaOf(idx)("vidx.pivots") == pivots0)
    assert(metaOf(idx)("vidx.base").toLong == 2L)
    val q = Array(-0.9, -0.1)
    assert(VectorIndex.search(spark, idx, q, k = 4, nProbe = 2)
      .select("id").as[Long].collect().toSeq == bruteTop(q, 4))
    // replace (rewrite) → full rebuild; the dropped vector disappears
    Manifest.commitReplace(spark, src,
      vecs.filter(_._1 != 9L).toDF("vec_id", "embedding"))
    VectorIndex.refresh(spark, src, idx)
    val got = VectorIndex.search(spark, idx, q, k = 12, nProbe = 2)
      .select("id").as[Long].collect().toSet
    assert(got == vecs.map(_._1).filter(_ != 9L).toSet)
  }

  test("manifest-sourced refresh propagates id-keyed MoR deletes as " +
    "index deletes: zero rewrite, probe-all stays exact, frozen pivots") {
    val src = newRoot("del-src"); val idx = newRoot("del-idx")
    Manifest.init(spark, src, vecs.toDF("vec_id", "embedding"))
    VectorIndex.createFromManifest(spark, src, idx, "vec_id",
      "embedding", nCells = 2)
    val pivots0 = metaOf(idx)("vidx.pivots")
    val v0 = Manifest.latestVersion(spark, idx).get
    val files0 = Manifest.snapshot(spark, idx, v0).files.toSet
    // interleaved: delete two ids, append one, delete again — replay
    Manifest.deleteByKeys(spark, src, Seq(3L, 9L).toDF("vec_id"))
    Manifest.commitAppend(spark, src,
      Seq((20L, Array(0.5f, 0.5f))).toDF("vec_id", "embedding"))
    Manifest.deleteByKeys(spark, src, Seq(1L).toDF("vec_id"))
    VectorIndex.refresh(spark, src, idx)
    val mN = Manifest.snapshotMeta(spark, idx,
      Manifest.latestVersion(spark, idx).get)
    assert(files0.subsetOf(mN.files.toSet),
      "delete propagation must not rewrite index files")
    assert(mN.deletes.nonEmpty)
    assert(metaOf(idx)("vidx.pivots") == pivots0, "pivots stay frozen")
    assert(metaOf(idx)("vidx.base").toLong ==
      Manifest.latestVersion(spark, src).get)
    val q = Array(1.0, 0.0)
    val got = VectorIndex.search(spark, idx, q, k = 20, nProbe = 2)
      .select("id").as[Long].collect().toSet
    assert(got == (vecs.map(_._1).toSet -- Set(1L, 3L, 9L)) + 20L)
    // a delete keyed on something else still falls back to a rebuild
    Manifest.commitAppend(spark, src,
      Seq((21L, Array(0.1f, 0.9f), "x"))
        .toDF("vec_id", "embedding", "tagx"))
    Manifest.deleteByKeys(spark, src, Seq("x").toDF("tagx"))
    VectorIndex.refresh(spark, src, idx)
    val got2 = VectorIndex.search(spark, idx, q, k = 20, nProbe = 2)
      .select("id").as[Long].collect().toSet
    assert(got2 == (vecs.map(_._1).toSet -- Set(1L, 3L, 9L)) + 20L)
  }

  test("refresh guards: a frame-created index refuses a source " +
    "refresh; a foreign source refuses") {
    val root = newRoot("rf-guard")
    VectorIndex.create(spark, root, emb, "vec_id", "embedding",
      nCells = 2)
    intercept[IllegalArgumentException] {
      VectorIndex.refresh(spark, newRoot("rf-other"), root)
    }
  }

  test("payload guard rails: reserved column names refuse at create") {
    val root = newRoot("guard")
    val bad = vecs.map { case (i, v) => (i, v, 0) }
      .toDF("vec_id", "embedding", "cell")
    intercept[IllegalArgumentException] {
      VectorIndex.create(spark, root, bad, "vec_id", "embedding",
        nCells = 2, payloadCols = Seq("cell"))
    }
  }

  // ---- SQ8 scalar quantization ----------------------------------------

  test("SQ8: codes replace vectors (byte column), decode error is " +
    "bounded by one level, and probe-all quantized ranking matches " +
    "brute force over DECODED vectors") {
    val root = newRoot("sq8")
    VectorIndex.create(spark, root, emb, "vec_id", "embedding",
      nCells = 2, quantize = true)
    val stored = Manifest.read(spark, root)
    assert(stored.schema.fieldNames.contains("q") &&
      !stored.schema.fieldNames.contains("v"))
    assert(stored.schema("q").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.ByteType, false) ||
      stored.schema("q").dataType.isInstanceOf[
        org.apache.spark.sql.types.ArrayType])

    // per-dimension reconstruction error ≤ span/256 (one level)
    def dims(sel: Int) = vecs.map(_._2(sel).toDouble)
    val lo = Array(dims(0).min, dims(1).min)
    val hi = Array(dims(0).max, dims(1).max)
    def code(x: Double, d: Int): Int = {
      val sp = hi(d) - lo(d)
      if (sp == 0) 0
      else math.min(255, math.max(0,
        math.floor((x - lo(d)) / sp * 256))).toInt
    }
    def decode(c: Int, d: Int): Double =
      lo(d) + (c + 0.5) / 256.0 * (hi(d) - lo(d))
    vecs.foreach { case (_, v) =>
      for (d <- 0 to 1) {
        val err = math.abs(decode(code(v(d), d), d) - v(d))
        assert(err <= (hi(d) - lo(d)) / 256.0 + 1e-12)
      }
    }

    // probe-all quantized top-k == brute force over the decoded vecs
    val q = Array(1.0, 0.05)
    val got = VectorIndex.search(spark, root, q, k = 5, nProbe = 2)
      .select("id").as[Long].collect().toSeq
    val expect = vecs.map { case (i, v) =>
        (i, cos(q, Array(decode(code(v(0), 0), 0),
          decode(code(v(1), 1), 1))))
      }.sortBy { case (i, c) => (-c, i) }.take(5).map(_._1)
    assert(got == expect)
    // and the quantized ranking is a good approximation of the exact
    // one on well-separated data: same top-3
    assert(got.take(3) == bruteTop(q, 3))
  }

  test("SQ8: appended vectors quantize with the FROZEN training " +
    "ranges (out-of-range values clamp, never crash)") {
    val root = newRoot("sq8-app")
    VectorIndex.create(spark, root, emb, "vec_id", "embedding",
      nCells = 2, quantize = true)
    // 5.0 is far outside the training range [-1, 1] → clamps to the
    // top code of dimension 0
    VectorIndex.append(spark, root,
      Seq((100L, Array(5.0f, 0.0f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    val got = VectorIndex.search(spark, root, Array(1.0, 0.0),
      k = 3, nProbe = 2).select("id").as[Long].collect().toSeq
    // the clamped vector decodes to the max corner — still a strong
    // +x direction match, and searchable
    assert(got.contains(100L))
  }

  test("SQ8: manifest-sourced refresh keeps quantizing — incremental " +
    "appends use frozen ranges, a rewrite re-trains them") {
    val src = newRoot("sq8-src")
    val idx = newRoot("sq8-idx")
    Manifest.init(spark, src,
      emb.filter($"vec_id" <= 8).select($"vec_id", $"embedding"))
    VectorIndex.createFromManifest(spark, src, idx, "vec_id",
      "embedding", nCells = 2, quantize = true)
    Manifest.commitAppend(spark, src,
      emb.filter($"vec_id" > 8).select($"vec_id", $"embedding"))
    VectorIndex.refresh(spark, src, idx)
    val stored = Manifest.read(spark, idx)
    assert(stored.count() == 12 &&
      stored.schema.fieldNames.contains("q"))
    // rewrite → full rebuild, still quantized
    Manifest.commitReplace(spark, src,
      emb.select($"vec_id", $"embedding").filter($"vec_id" <= 6))
    VectorIndex.refresh(spark, src, idx)
    val after = Manifest.read(spark, idx)
    assert(after.count() == 6 && after.schema.fieldNames.contains("q"))
    val got = VectorIndex.search(spark, idx, Array(0.0, 1.0),
      k = 2, nProbe = 2).select("id").as[Long].collect().toSeq
    assert(got.nonEmpty && got.forall(_ <= 6))
  }

  test("occupancy is metadata-only and exact; repivot behind the " +
    "alias preserves contents and probe-all answers, re-trains cells") {
    val base = "file://" + java.nio.file.Files
      .createTempDirectory("graft-vidx-repivot").toString
    val alias = s"$base/alias"
    VectorIndex.create(spark, s"$base/v1", emb, "vec_id", "embedding",
      nCells = 3)
    graft.sources.IndexAlias.set(spark, alias, s"$base/v1")
    // metadata occupancy == the real per-cell counts
    val occ = VectorIndex.occupancy(spark, s"$base/v1").toMap
    val real = Manifest.read(spark, s"$base/v1")
      .groupBy("cell").count()
      .as[(Int, Long)].collect().toMap
    assert((0 until 3).forall(c =>
      occ(c) == real.getOrElse(c, 0L)), s"occ=$occ real=$real")
    // flood one direction → skew rises above the trigger
    val flood = (100L to 140L).map(i =>
      (i, Array(0.9f + (i % 7) * 0.001f, 0.1f))).toDF("vec_id", "embedding")
    VectorIndex.append(spark, s"$base/v1", flood, "vec_id", "embedding")
    val skewBefore = VectorIndex.occupancySkew(spark, s"$base/v1")
    assert(skewBefore > 1.5, s"skew $skewBefore")
    def ans() = graft.sources.IndexAlias.searchVector(spark, alias,
        Array(0.9, 0.1), k = 8, nProbe = 3)
      .collect().map(r => (r.getLong(0),
        math.rint(r.getDouble(1) * 1e6) / 1e6)).toSeq
    val before = ans()
    val idsBefore = Manifest.read(spark, s"$base/v1").select("id")
      .as[Long].collect().sorted.toSeq
    VectorIndex.repivot(spark, alias, s"$base/v2")
    assert(graft.sources.IndexAlias.resolve(spark, alias) == s"$base/v2")
    val idsAfter = Manifest.read(spark, s"$base/v2").select("id")
      .as[Long].collect().sorted.toSeq
    assert(idsAfter == idsBefore)
    assert(ans() == before, "probe-all answers moved under repivot")
    // quantized frame-built index refuses a lossy self-rebuild
    VectorIndex.create(spark, s"$base/q1", emb, "vec_id", "embedding",
      nCells = 3, quantize = true)
    graft.sources.IndexAlias.set(spark, s"$base/qalias", s"$base/q1")
    val e = intercept[IllegalArgumentException](
      VectorIndex.repivot(spark, s"$base/qalias", s"$base/q2"))
    assert(e.getMessage.contains("lossy"), e.getMessage)
  }

  // ---- EXACT cosine range ops (per-cell angular bound) -----------

  private def clusteredFix(n: Long, nCl: Int) =
    graft.sources.Fixtures.clusteredEmbeddings(spark, n, dim = 8,
      nClusters = nCl)

  private def collectVecs(df: org.apache.spark.sql.DataFrame)
      : Map[Long, Array[Double]] =
    df.select(col("vec_id"),
        graft.functions.Vectors.toDouble(col("embedding")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .toMap

  test("rangeSearch is EXACT at every radius: id-set equal to brute " +
    "force, at prying and at permissive thresholds") {
    val fix = clusteredFix(256, 16)
    val root = newRoot("range")
    VectorIndex.create(spark, root, fix, "vec_id", "embedding",
      nCells = 16)
    val all = collectVecs(fix)
    for (qid <- Seq(7L, 101L); tau <- Seq(0.97, 0.6, 0.1, -0.4)) {
      val q = all(qid)
      val want = all.collect {
        case (i, v) if cos(q, v) >= tau => i
      }.toSet
      val got = VectorIndex.rangeSearch(spark, root, q, tau)
        .select("id").as[Long].collect().toSet
      assert(got == want, s"qid=$qid tau=$tau: " +
        s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    }
  }

  test("rangeSearch partition-prunes: a tight radius on clustered " +
    "data scans a strict subset of the index's files") {
    val fix = clusteredFix(512, 16)
    val root = newRoot("rprune")
    VectorIndex.create(spark, root, fix, "vec_id", "embedding",
      nCells = 16)
    val q = collectVecs(fix)(7L)
    val tight = VectorIndex.rangeSearch(spark, root, q, 0.97)
    val totalFiles = ScanFiles.live(spark, root)
    val pruned = ScanFiles.planned(tight)
    assert(pruned < totalFiles,
      s"tight radius scanned $pruned of $totalFiles files — no pruning")
  }

  test("appends WIDEN the angular bound: a far-from-pivot append is " +
    "still found by a tight radius around it (stale bounds would " +
    "prune its cell)") {
    val fix = clusteredFix(128, 8)
    val root = newRoot("rappend")
    VectorIndex.create(spark, root, fix, "vec_id", "embedding",
      nCells = 8)
    // a direction far from every fixture cluster (fixture components
    // live in [-1.05, 1.05): an axis spike is nobody's neighbor)
    val far = Array(0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 9.0)
    VectorIndex.append(spark, root,
      Seq((9001L, far)).toDF("vec_id", "embedding"), "vec_id",
      "embedding")
    val got = VectorIndex.rangeSearch(spark, root, far, 0.999)
      .select("id").as[Long].collect().toSet
    assert(got == Set(9001L),
      s"far append must be reachable at its own radius, got $got")
    // and the whole index stays exact after the widen
    val all = collectVecs(fix) + (9001L -> far)
    val q = all(7L)
    val want = all.collect { case (i, v) if cos(q, v) >= 0.5 => i }.toSet
    val got2 = VectorIndex.rangeSearch(spark, root, q, 0.5)
      .select("id").as[Long].collect().toSet
    assert(got2 == want)
  }

  test("MoR deletes keep range exactness (bound stays conservative)") {
    val fix = clusteredFix(128, 8)
    val root = newRoot("rdelete")
    VectorIndex.create(spark, root, fix, "vec_id", "embedding",
      nCells = 8)
    Manifest.deleteByKeys(spark, root,
      (0L until 128L by 3L).toDF("id"))
    val all = collectVecs(fix).view.filterKeys(_ % 3 != 0).toMap
    val q = all(7L)
    val want = all.collect { case (i, v) if cos(q, v) >= 0.3 => i }.toSet
    val got = VectorIndex.rangeSearch(spark, root, q, 0.3)
      .select("id").as[Long].collect().toSet
    assert(got == want)
  }

  test("rangeJoin == brute-force cross filter for a query frame") {
    val fix = clusteredFix(192, 12)
    val root = newRoot("rjoin")
    VectorIndex.create(spark, root, fix, "vec_id", "embedding",
      nCells = 12)
    val all = collectVecs(fix)
    val qids = Seq(3L, 50L, 120L)
    val queries = fix.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("qid"), col("embedding"))
    val tau = 0.6
    // iterate the vectors as a Seq — a for over the Map would yield
    // back INTO a Map keyed by the constant qid and collapse
    val want = (for {
      qid <- qids; (i, v) <- all.toSeq if cos(all(qid), v) >= tau
    } yield (qid, i)).toSet
    val got = VectorIndex.rangeJoin(spark, root, queries, "qid",
        "embedding", tau)
      .select("query_id", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want, s"missing=${(want -- got).take(5)} " +
      s"extra=${(got -- want).take(5)}")
  }

  test("selfRangePairs == brute-force all-pairs, tight and loose " +
    "(loose radii admit off-diagonal cell pairs)") {
    val fix = clusteredFix(160, 10)
    val root = newRoot("rself")
    VectorIndex.create(spark, root, fix, "vec_id", "embedding",
      nCells = 10)
    val all = collectVecs(fix).toSeq.sortBy(_._1)
    for (tau <- Seq(0.97, 0.3)) {
      val want = (for {
        (i, vi) <- all; (j, vj) <- all
        if i < j && cos(vi, vj) >= tau
      } yield (i, j)).toSet
      val got = VectorIndex.selfRangePairs(spark, root, tau)
        .select("id1", "id2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want, s"tau=$tau missing=${(want -- got).take(5)} " +
        s"extra=${(got -- want).take(5)}")
    }
  }

  test("IVF training (trainIters) refines pivots deterministically: " +
    "contents and exact range answers unchanged, pruning strictly " +
    "tighter on clustered data") {
    val fix = clusteredFix(512, 16)
    val all = collectVecs(fix)
    val q = all(7L)
    def buildAndProbe(iters: Int): (Set[Long], Long) = {
      val root = newRoot(s"train$iters")
      VectorIndex.create(spark, root, fix, "vec_id", "embedding",
        nCells = 16, trainIters = iters)
      val r = VectorIndex.rangeSearch(spark, root, q, 0.97)
      val ids = r.select("id").as[Long].collect().toSet
      (ids, ScanFiles.planned(r))
    }
    val want = all.collect { case (i, v) if cos(q, v) >= 0.97 => i }.toSet
    val (ids0, files0) = buildAndProbe(0)
    val (ids2, files2) = buildAndProbe(2)
    val (ids2b, _) = buildAndProbe(2) // deterministic trajectory
    assert(ids0 == want && ids2 == want && ids2b == want)
    assert(files2 < files0,
      s"trained build scans $files2 files vs untrained $files0 — " +
        "training should tighten the angular bounds")
  }

  test("SQ8 range ops are exact over the SERVED geometry: rangeSearch " +
    "ids == probe-all search filtered at the radius") {
    val fix = clusteredFix(128, 8)
    val root = newRoot("rsq")
    VectorIndex.create(spark, root, fix, "vec_id", "embedding",
      nCells = 8, quantize = true)
    val q = collectVecs(fix)(7L)
    val tau = 0.9
    // probe-all top-k over ALL rows is the documented exact anchor
    // for the served (decoded) cosines
    val want = VectorIndex.search(spark, root, q, k = 128, nProbe = 8)
      .filter(col("cosine") >= tau)
      .select("id").as[Long].collect().toSet
    val got = VectorIndex.rangeSearch(spark, root, q, tau)
      .select("id").as[Long].collect().toSet
    assert(got == want)
  }
}
