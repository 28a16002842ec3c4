package perfbench

import scala.io.Source

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.operators.Search
import graft.sources.{IvfPqIndex, Manifest, SearchIndex, VectorIndex}

/** `retrieval_serve`: source manifest tables of documents and
  * embeddings, a BM25 `SearchIndex`, a `VectorIndex` and an
  * `IvfPqIndex` built over them, then a request stream: `searchBm25`
  * (1-3 Zipf-drawn terms), `VectorIndex.search` and
  * `IvfPqIndex.searchBatch` (perturbed corpus vectors), and every so
  * often a `refresh` op — commit a small doc + vector batch, refresh
  * both indexes, and probe until the new rows are served (its latency is
  * the index freshness).
  *
  * Checks: on a seeded sample, the index's BM25 top-k equals
  * `Search.rankBm25` over the source head, and the vector index probing
  * every cell equals brute-force cosine top-10; recall@10 at the served
  * `nProbe` must reach `RecallFloor`. */
final class RetrievalServe(spark: SparkSession, data: String, work: String,
                           seed: Long, rec: Recorder) extends Workload {
  import RetrievalServe._

  private val reqs: IndexedSeq[String] = {
    val s = Source.fromFile(s"$data/requests.tsv")
    try s.getLines().toIndexedSeq finally s.close()
  }
  private var at = 0
  private val lastU = s"U\t${lastUpdate(data)}"
  private var root = ""
  private def docs = s"file://$root/docs"
  private def vecs = s"file://$root/vecs"
  private def bm25 = s"file://$root/bm25"
  private def vidx = s"file://$root/vidx"
  private def pq = s"file://$root/ivfpq"
  private val createMs = scala.collection.mutable.Map.empty[String,
    List[Double]].withDefaultValue(Nil)
  private var recall = Double.NaN
  private val embSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  private def timed[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally createMs(name) ::= (System.nanoTime() - t0) / 1e6
  }

  def setup(rep: Int): Unit = {
    if (root.nonEmpty) LakeChurn.rmrf(root)
    root = s"$work/retrieval_r$rep"
    Manifest.init(spark, docs, spark.read.parquet(s"$data/documents.parquet"))
    Manifest.init(spark, vecs, spark.read.parquet(s"$data/embeddings.parquet"))
    timed("search_index.create_ms")(
      SearchIndex.create(spark, docs, bm25, "doc_id", "text", buckets = 16))
    timed("vector_index.create_ms")(
      VectorIndex.createFromManifest(spark, vecs, vidx, "vec_id",
        "embedding", nCells = Cells, trainIters = 1))
    timed("ivfpq.create_ms")(
      IvfPqIndex.create(spark, pq, Manifest.read(spark, vecs), "vec_id",
        "embedding", dim = 64, nCells = PqCells, m = 8, pqK = 16,
        iters = 1, trainSample = 512, storeVectors = true))
    graft.CacheScope.releaseAllThreads()
  }

  private def vec(csv: String): Array[Double] = csv.split(",").map(_.toDouble)

  private def ann(q: Array[Double], nProbe: Int): Array[Row] = {
    val df = Trace.span("vector_index.search_call")(
      VectorIndex.search(spark, vidx, q, 10, nProbe))
    Trace.span("vector_index.search_collect")(df.collect())
  }

  private def bm25Search(terms: String, k: Int): Array[Row] = {
    val df = Trace.span("search_index.bm25_call")(
      SearchIndex.searchBm25(spark, bm25, terms, k))
    Trace.span("search_index.bm25_collect")(df.collect())
  }

  private def ivfpq(qs: Seq[Array[Double]]): Array[Row] = {
    val qdf = spark.createDataFrame(java.util.Arrays.asList(
      qs.zipWithIndex.map { case (v, i) =>
        Row(-1L - i, v.map(_.toFloat).toSeq) }: _*), embSchema)
    Trace.span("ivfpq.search")(IvfPqIndex.searchBatch(spark, pq, None, qdf,
      "vec_id", "embedding", "vec_id", topK = 10, nProbe = 4,
      refineFactor = 10).collect())
  }

  /** Commit update batch `u`, refresh both indexes, then probe: the
    * batch's unique token must return exactly the batch's docs, and
    * each new vector must be its own nearest neighbour. */
  private def refresh(u: Int): Option[String] = {
    val d = spark.read.parquet(s"$data/updates/docs-$u.parquet")
    val v = spark.read.parquet(s"$data/updates/vecs-$u.parquet")
    Trace.span("manifest.append") {
      Manifest.commitAppend(spark, docs, d); Manifest.commitAppend(spark, vecs, v)
    }
    Trace.span("search_index.refresh")(SearchIndex.refresh(spark, docs, bm25))
    Trace.span("vector_index.refresh")(VectorIndex.refresh(spark, vecs, vidx))
    val want = d.select("doc_id").collect().map(_.getLong(0)).toSet
    val got = bm25Search(s"fresh$u", want.size + 5).map(_.getLong(0)).toSet
    val probe = v.limit(1).collect().head
    val pv = probe.getSeq[Float](1).map(_.toDouble).toArray
    val top = ann(pv, Cells).headOption.map(_.getLong(0))
    if (got != want) Some(s"refresh $u: bm25 serves ${got.size} of ${want.size} new docs")
    else if (!top.contains(probe.getLong(0)))
      Some(s"refresh $u: vector ${probe.getLong(0)} not served, top $top")
    else None
  }

  private def serve(line: String): Unit = {
    val f = line.split("\t")
    f(0) match {
      case "B" =>
        rec.op("bm25", read = true)(bm25Search(f(1), 10)) { rows =>
          if (rows.nonEmpty && rows.length <= 10) None
          else Some(s"bm25 '${f(1)}' returned ${rows.length} rows")
        }
      case "V" =>
        rec.op("ann", read = true)(ann(vec(f(1)), ServeProbe)) { rows =>
          if (rows.length == 10) None else Some(s"ann returned ${rows.length}")
        }
      case "P" =>
        val qs = f(1).split(";").toSeq.map(vec)
        rec.op("ivfpq", read = true)(ivfpq(qs)) { rows =>
          val per = rows.groupBy(_.getLong(0)).map(_._2.length)
          if (per.size == qs.size && per.forall(_ == 10)) None
          else Some(s"ivfpq returned ${per.toSeq.sorted} rows per query")
        }
      case "U" =>
        val t0 = System.nanoTime()
        rec.op("refresh", read = false)(refresh(f(1).toInt))(identity)
          .foreach(_ => rec.sample("freshness", (System.nanoTime() - t0) / 1e6))
    }
    graft.CacheScope.releaseAllThreads()
  }

  def warmup(): Double = {
    // one request of each kind; the refresh uses the last update batch,
    // which the stream reaches only if it runs past every other one
    Seq("B", "V", "P").foreach(k => serve(reqs.find(_.startsWith(k)).get))
    serve(lastU)
    0.0
  }

  /** One round = the requests up to and including the next refresh
    * (the generator's fixed request cycle). */
  def step(): Boolean = {
    val end = reqs.indexWhere(_.startsWith("U"), at)
    if (end < 0) return false
    (at to end).map(reqs).filter(_ != lastU).foreach(serve)
    at = end + 1
    true
  }

  def finish(): Unit = {
    val sample = reqs.filter(_.startsWith("B")).take(Bm25CheckQueries)
    val src = Manifest.read(spark, docs)
    val bad = sample.map(_.split("\t")(1)).filter { t =>
      val idx = bm25Search(t, 10).map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val ref = Search.rankBm25(src, "doc_id", "text", t, 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      idx != ref
    }
    rec.check("retrieval.bm25_equals_rankBm25", bad.isEmpty,
      s"${bad.size}/${sample.size} sampled queries differ: ${bad.take(3)}")
    // brute-force cosine top-10 over the source head
    val all = Manifest.read(spark, vecs).collect().map(r =>
      (r.getAs[Long]("vec_id"),
        r.getAs[Seq[Float]]("embedding").map(_.toDouble).toArray))
    val qs = reqs.filter(_.startsWith("V")).take(AnnCheckQueries).map(l =>
      vec(l.split("\t")(1)))
    var exactBad = 0; var hits = 0
    qs.foreach { q =>
      val truth = all.map { case (id, v) => (id, cos(q, v)) }
        .sortBy { case (id, c) => (-c, id) }.take(10)
      val full = ann(q, Cells).map(r => (r.getLong(0), r.getDouble(1)))
      val same = full.length == 10 && full.zip(truth).forall {
        case ((a, ca), (b, cb)) => a == b || math.abs(ca - cb) < 1e-9 }
      if (!same) exactBad += 1
      val served = ann(q, ServeProbe).map(_.getLong(0)).toSet
      hits += truth.count(t => served.contains(t._1))
    }
    rec.check("retrieval.ann_probe_all_exact", exactBad == 0,
      s"$exactBad/${qs.size} probe-all searches differ from brute force")
    recall = hits.toDouble / (10 * qs.size)
    rec.check("retrieval.ann_recall_floor", recall >= RecallFloor,
      f"recall@10 at nProbe=$ServeProbe is $recall%.3f (floor $RecallFloor)")
  }

  private def cos(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  def layerMetrics(): Seq[(String, Double)] =
    createMs.toSeq.map { case (k, v) => k -> Main.median(v) } :+
      ("ann.recall_at_10" -> recall)
}

object RetrievalServe {
  val Cells = 16
  val PqCells = 8
  val ServeProbe = 4
  val RecallFloor = 0.8
  val Bm25CheckQueries = 2
  val AnnCheckQueries = 4

  /** Highest update batch number shipped with the inputs. */
  def lastUpdate(data: String): Int =
    new java.io.File(s"$data/updates").list()
      .filter(_.startsWith("docs-"))
      .map(_.stripPrefix("docs-").stripSuffix(".parquet").toInt).max
}
