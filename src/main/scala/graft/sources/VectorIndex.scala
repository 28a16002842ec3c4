package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Vectors
import graft.operators.Similarity
import graft.operators.Similarity.driverCos

/** MATERIALIZED IVF VECTOR INDEX — the dense twin of [[SearchIndex]]:
  * the embedding corpus is assigned ONCE to inverted-file cells and
  * persisted as a cell-partitioned manifest table, so an ANN query
  * probes a few cells through real manifest partition pruning instead
  * of re-clustering the corpus per query (which is what the in-query
  * `Similarity.ivfTopK` pays). Reference scope: the OpenSearch tier's
  * k-NN index concept (README.md:26 — "full-text search and indexing"
  * is the declared tier; OpenSearch serves both lexical and k-NN
  * queries from maintained indexes), re-expressed as a Spark-native
  * versioned table.
  *
  * LAYOUT — one manifest table, partitioned by `cell` ∈ [0, nCells):
  * rows (cell, id, v: array&lt;double&gt;). The PIVOTS (cell
  * representatives) live in the commit HEADER, exactly serialized
  * (`Double.toString` round-trips), so query planning needs zero data
  * IO: probe selection is driver arithmetic over nCells vectors. That
  * header residency is also the design bound — nCells is meant for
  * ~10²-10⁴ cells (at 100 TB, cells are coarse shards; finer recall
  * comes from PQ within cells, q150's composition).
  *
  * DETERMINISM — pivots are the first nCells vectors in PORTABLE hash
  * order (`Sampling.portableHash`, md5 — the same engine-replayable
  * choice `kmeansAssign` makes), assignment is argmax cosine with
  * ascending-cell tie-break via one map-only `aggregate` HOF against a
  * literal centroid array (no shuffle), and appended vectors are
  * assigned against the SAME frozen header pivots — so any engine can
  * replay cell membership bit-for-bit.
  *
  * Scale: create = one map-only assignment pass + one clustered write
  * (≈ one file per cell, same reasoning as SearchIndex.indexRows);
  * append = the same for the delta only; search = partition-pruned
  * scan of nProbe cells, map-side cosine, TakeOrderedAndProject.
  *
  * PRECONDITION (same as SearchIndex): rows are unique by the id
  * column — run exact dedup upstream; appending an existing id leaves
  * both rows in the index and both would rank. */
object VectorIndex {

  private val CellCol = "cell"

  /** THE header encoding of driver vectors (pivots here, pivots and
    * codebooks in [[IvfPqIndex]]): exact, since `Double.toString`
    * round-trips. */
  private[sources] def serialize(pivots: Seq[Array[Double]]): String =
    pivots.map(_.mkString(",")).mkString(";")

  private[sources] def parse(s: String): Seq[Array[Double]] =
    s.split(";").toSeq.map(_.split(",").map(_.toDouble))

  // ---- per-cell ANGULAR BOUND (the exact-range-search stat) ------
  // For every cell, the MIN cosine between a stored member (in its
  // SERVED representation — decoded midpoints on an SQ8 index) and
  // the cell's pivot, i.e. the cosine of the widest member angle
  // θmax(c). Rides the header next to the pivots (nCells doubles —
  // the same header-residency budget), and it is what turns the IVF
  // layout into an EXACT radius-query structure: for x in cell c,
  //   θ(q,x) ≥ θ(q,pivot) − θ(pivot,x) ≥ θ(q,pivot) − θmax(c)
  // (spherical triangle inequality on directions), so a cell with
  // cos(θ(q,p) − θmax(c)) < τ provably holds NO row with
  // cos(q,x) ≥ τ and is pruned WITHOUT approximation — no
  // validate-then-pin needed, unlike top-k probing. Zero-norm rows
  // (cosine NULL) are excluded: they can never enter a cosine range
  // result, so they constrain no bound. MAINTENANCE: appends can only
  // WIDEN a cell (merge by per-cell min); deletes keep the old bound
  // (conservative — still exact, pruning just loosens until a
  // rebuild re-trains it).
  private val CellCosKey = "vidx.cellcos"
  private val AngleSlack = 1e-9 // swamps arccos rounding; adds cells only

  private def clampCos(x: Double): Double =
    math.max(-1.0, math.min(1.0, x))

  /** Per-cell min member-to-pivot cosine of `rows` (the stored shape:
    * CellCol + a served-vector expression). Cells with no rows (or
    * only zero-norm rows) report 1.0 — θmax = 0, nothing to cover. */
  private def cellBounds(rows: DataFrame, pivots: Seq[Array[Double]],
                         vServe: org.apache.spark.sql.Column)
      : Array[Double] = {
    val cents = array(pivots.map(p => array(p.map(lit(_)): _*)): _*)
    val got = rows
      .select(col(CellCol),
        Vectors.cosine(vServe, element_at(cents, col(CellCol) + 1))
          .as("_pc"))
      .filter(col("_pc").isNotNull)
      .groupBy(CellCol).agg(min(col("_pc")).as("_mc"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    Array.tabulate(pivots.size)(c => got.getOrElse(c, 1.0))
  }

  private def boundsOf(meta: Map[String, String]): Option[Array[Double]] =
    meta.get(CellCosKey).map(_.split(",").map(_.toDouble))

  /** The appended header stat for a delta commit: per-cell min of the
    * stored bound and the delta's. A legacy index WITHOUT the stat
    * stays without it (the delta's bound says nothing about the rows
    * already stored — stamping it would over-prune); range ops then
    * probe all cells, which is exact, just unpruned. */
  private def appendBoundsMeta(meta: Map[String, String],
                               delta: DataFrame,
                               pivots: Seq[Array[Double]],
                               vServe: org.apache.spark.sql.Column)
      : Map[String, String] =
    boundsOf(meta) match {
      case Some(o) =>
        val d = cellBounds(delta, pivots, vServe)
        Map(CellCosKey -> Array.tabulate(d.length)(i =>
          math.min(if (i < o.length) o(i) else 1.0, d(i)))
          .mkString(","))
      case None => Map.empty
    }

  /** The header pivots as kernel centroids: cell c is cid c. */
  private def cents(pivots: Seq[Array[Double]]): Seq[Similarity.Cent] =
    pivots.zipWithIndex.map { case (p, c) => (0, c.toLong, p) }

  /** Map-only cell assignment of `(id, v, payload...)` rows against
    * literal pivots: the kernel's nearest-centroid fold by cosine,
    * ascending cell on ties, cell -1 never survives (pivots are
    * non-empty). */
  private def assign(withV: DataFrame, pivots: Seq[Array[Double]],
                     payload: Seq[String]): DataFrame =
    withV.select(Similarity.nearest(Similarity.centsOf(cents(pivots),
        lit(0)), col("v"), cosine = true).getField("cid").cast("int")
        .as(CellCol) +: col("id") +: col("v") +: payload.map(col): _*)

  private def withV(emb: DataFrame, idCol: String, vecCol: String,
                    payload: Seq[String]): DataFrame =
    graft.scaleOut(emb)
      .select(col(idCol).as("id") +:
        Vectors.toDouble(col(vecCol)).as("v") +: payload.map(col): _*)

  // ---- SQ8 scalar quantization (the faiss `SQ8` / Lucene int8-HNSW
  // move): each dimension maps to a 256-level code inside its global
  // [lo, hi] training range, stored as ONE BYTE instead of an 8-byte
  // double — the probed-cell scan reads ~1/8 the vector bytes, which
  // at 100 TB of embeddings is the difference between an IO-bound and
  // a compute-bound ANN serve. Quantization is deterministic integer
  // arithmetic over exact per-dimension min/max (comparisons, no
  // summation), so an oracle can replay code assignment bit-for-bit;
  // `floor` (not round) keeps the halfway case engine-agnostic.
  // Out-of-range values (appends after training) CLAMP to the edge
  // codes — recall degrades gracefully, never correctness of the
  // quantized ranking. Decode reconstructs the level midpoint.

  private def sqCodes(v: org.apache.spark.sql.Column,
                      lo: Array[Double], hi: Array[Double])
      : org.apache.spark.sql.Column = {
    val loL = array(lo.map(lit(_)): _*)
    val spanL = array(lo.indices.map(i => lit(hi(i) - lo(i))): _*)
    zip_with(zip_with(v, loL, (x, l) => x - l), spanL, (d, sp) =>
      (when(sp === 0d, lit(0.0))
        .otherwise(least(lit(255.0),
          greatest(lit(0.0), floor(d / sp * 256))))
        - lit(128.0)).cast("byte"))
  }

  private def sqDecode(q: org.apache.spark.sql.Column,
                       lo: Array[Double], hi: Array[Double])
      : org.apache.spark.sql.Column = {
    val loL = array(lo.map(lit(_)): _*)
    val spanL = array(lo.indices.map(i => lit(hi(i) - lo(i))): _*)
    zip_with(zip_with(q, spanL, (c, sp) =>
        (c.cast("double") + lit(128.5)) / 256d * sp),
      loL, (d, l) => d + l)
  }

  private def sqBounds(meta: Map[String, String])
      : Option[(Array[Double], Array[Double])] =
    if (!meta.contains("vidx.sq")) None
    else Some((meta("vidx.sq.lo").split(",").map(_.toDouble),
      meta("vidx.sq.hi").split(",").map(_.toDouble)))

  /** Replace the full vectors of assigned rows with their SQ8 codes. */
  private def quantizeRows(rows: DataFrame, lo: Array[Double],
                           hi: Array[Double], payload: Seq[String])
      : DataFrame =
    rows.select(col(CellCol) +: col("id") +:
      sqCodes(col("v"), lo, hi).as("q") +: payload.map(col): _*)

  /** Build the index: deterministic pivots (first nCells vectors in
    * portable-hash order — one bounded nCells-row collect, the
    * header-residency contract), one assignment pass, one clustered
    * write.
    *
    * `payloadCols` are metadata columns stored ALONGSIDE each vector
    * (the OpenSearch filtered-kNN shape: the filter field lives in the
    * index). A [[search]] filter over them is an ordinary column
    * predicate on the index's own parquet files — Catalyst pushes it
    * into the cell-pruned scan (`PushedFilters`), so filtered ANN
    * never joins back to the source table. */
  def create(spark: SparkSession, indexRoot: String, emb: DataFrame,
             idCol: String, vecCol: String, nCells: Int,
             payloadCols: Seq[String] = Nil,
             quantize: Boolean = false,
             trainIters: Int = 0): Long =
    build(spark, indexRoot, emb, idCol, vecCol, nCells, payloadCols,
      Map.empty, replace = false, quantize = quantize,
      trainIters = trainIters)

  /** (pivots trained on `emb`, assigned rows, full header) — shared by
    * create and the full-rebuild refresh path. With `quantize`, a
    * per-dimension min/max training pass (exact — comparisons only)
    * sizes the SQ8 ranges, codes replace the vectors in the stored
    * rows, and the ranges ride the header next to the pivots. */
  private def build(spark: SparkSession, indexRoot: String,
                    emb: DataFrame, idCol: String, vecCol: String,
                    nCells: Int, payloadCols: Seq[String],
                    extra: Map[String, String],
                    replace: Boolean,
                    quantize: Boolean = false,
                    trainIters: Int = 0): Long = {
    require(nCells >= 1, "nCells must be >= 1")
    require(trainIters >= 0, "trainIters must be >= 0")
    val reserved = Set(CellCol, "id", "v", "q")
    require(payloadCols.forall(c => !reserved(c)),
      s"payload columns collide with the index's own: $reserved")
    val v = withV(emb, idCol, vecCol, payloadCols)
    val seed = Similarity.seeds(v, "id", "vidx", nCells)
    require(seed.nonEmpty, "empty embedding frame")
    // IVF TRAINING (what FAISS's `train()` does): spherical Lloyd from
    // the hash seeds, on a BOUNDED hash-ordered sample (~32 points per
    // cell — a prefix of the same order the seeds come from), so train
    // cost stops growing with the corpus; the one corpus-sized pass is
    // the final assignment, which IS the index build. A cell that
    // empties keeps its previous pivot (the pivot COUNT is the header
    // contract). Why it matters: hash init leaves ~1/e of natural
    // clusters pivotless, whose members then stretch foreign cells'
    // angular bounds — training collapses pivots onto the real centers,
    // which is what tightens θmax and turns the range ops' provable
    // pruning from ~2× into ~cells×.
    val pivots =
      if (trainIters == 0) seed
      else Similarity.lloyd(
        Similarity.trainSample(v, "id", "vidx",
            math.max(4096, 32 * nCells)).select(lit(0).as("g"), col("v")),
        cents(seed), cosine = true, trainIters, keepEmpty = true)
        .map(_._3)
    val assigned = assign(v, pivots, payloadCols)
    val (rows, sqMeta) =
      if (!quantize) (assigned, Map.empty[String, String])
      else {
        val b = v.select(posexplode(col("v")).as(Seq("i", "x")))
          .groupBy("i").agg(min("x").as("lo"), max("x").as("hi"))
          .orderBy("i").collect()
        val lo = b.map(_.getDouble(1)); val hi = b.map(_.getDouble(2))
        (quantizeRows(assigned, lo, hi, payloadCols),
          Map("vidx.sq" -> "1",
            "vidx.sq.lo" -> lo.mkString(","),
            "vidx.sq.hi" -> hi.mkString(",")))
      }
    // the angular bound is over the SERVED representation — decoded
    // midpoints on an SQ8 index — so range pruning covers exactly the
    // geometry [[search]]/[[rangeSearch]] score
    val vServe = sqMeta.get("vidx.sq.lo").fold(col("v")) { los =>
      sqDecode(col("q"), los.split(",").map(_.toDouble),
        sqMeta("vidx.sq.hi").split(",").map(_.toDouble))
    }
    val meta = Map(
      "vidx.id" -> idCol, "vidx.vec" -> vecCol,
      "vidx.cells" -> pivots.size.toString,
      "vidx.train" -> trainIters.toString,
      "vidx.payload" -> payloadCols.mkString(","),
      "vidx.pivots" -> serialize(pivots)) ++
      sqMeta ++ extra
    val out = rows.repartition(col(CellCol))
    val v1 =
      if (replace)
        Manifest.commitReplace(spark, indexRoot, out, Seq(CellCol),
          extraMeta = meta)
      else
        Manifest.init(spark, indexRoot, out, Seq(CellCol),
          extraMeta = meta)
    // angular bounds from the COMMITTED rows, not the pre-write
    // lineage: the O(n·nCells·dim) assignment was just materialized
    // by the write, so this pass re-reads cell-partitioned parquet
    // and scores ONE cosine per row against its own pivot —
    // O(n·dim). Computing it from `rows` would silently re-run the
    // whole assignment a second time (measured ~2× build cost at
    // sf10). Published as a metadata-only follow-up commit: a crash
    // between the two leaves a serving index whose range ops simply
    // probe all cells — exact, just unpruned — and the next rebuild
    // re-stamps it.
    val committed = Manifest.read(spark, indexRoot, Some(v1))
    val bounds = cellBounds(committed, pivots, vServe)
    val m = Manifest.snapshotMeta(spark, indexRoot, v1)
    Manifest.publish(spark, indexRoot, v1, m.entries,
      m.meta + (CellCosKey -> bounds.mkString(",")), m.deletes)
  }

  /** Build the index over a MANIFEST TABLE source, recording the
    * source root and version so [[refresh]] can advance it
    * incrementally — the dense mirror of
    * [[SearchIndex.create]]/[[SearchIndex.refresh]]. */
  def createFromManifest(spark: SparkSession, srcRoot: String,
                         indexRoot: String, idCol: String,
                         vecCol: String, nCells: Int,
                         payloadCols: Seq[String] = Nil,
                         quantize: Boolean = false,
                         trainIters: Int = 0): Long = {
    val head = Manifest.latestVersion(spark, srcRoot).getOrElse(
      throw new IllegalStateException(s"$srcRoot not initialized"))
    build(spark, indexRoot, Manifest.read(spark, srcRoot, Some(head)),
      idCol, vecCol, nCells, payloadCols,
      Map("vidx.src" -> srcRoot, "vidx.base" -> head.toString),
      replace = false, quantize = quantize, trainIters = trainIters)
  }

  /** Advance a manifest-sourced index to its source's head,
    * per-commit: APPENDS assign the added files' rows against the
    * FROZEN create-time pivots — cost ∝ added rows (the IVF contract:
    * cell membership never moves under append); merge-on-read DELETES
    * keyed on the id column propagate as a MoR delete of the same ids
    * on the INDEX — zero rewrite, O(deleted ids), probe-all search
    * stays exact over the retained rows (cell membership and SQ codes
    * are per-row facts deletion cannot move; what churn degrades is
    * cell BALANCE, which a periodic rebuild re-trains away — never
    * correctness). Rewrites, non-id deletes, or an unresolvable base
    * fall back to a FULL REBUILD. Never silently wrong. */
  def refresh(spark: SparkSession, srcRoot: String,
              indexRoot: String): Long = {
    val meta = state(spark, indexRoot)
    require(meta.get("vidx.src").contains(srcRoot),
      s"$indexRoot does not index $srcRoot (created from a frame, or " +
        s"a different source: ${meta.getOrElse("vidx.src", "<none>")})")
    val base = meta("vidx.base").toLong
    val idCol = meta("vidx.id"); val vecCol = meta("vidx.vec")
    val nCells = meta("vidx.cells").toInt
    val payload = payloadOf(meta)
    val idxHead = Manifest.latestVersion(spark, indexRoot).get
    val srcHead = Manifest.latestVersion(spark, srcRoot).getOrElse(
      throw new IllegalStateException(s"$srcRoot not initialized"))
    if (srcHead == base) return idxHead
    require(srcHead > base,
      s"$srcRoot is at v$srcHead but the index reflects v$base — " +
        "the source was replaced or rolled back; recreate the index")

    def full(): Long = build(spark, indexRoot,
      Manifest.read(spark, srcRoot, Some(srcHead)), idCol, vecCol,
      nCells, payload,
      Map("vidx.src" -> srcRoot, "vidx.base" -> srcHead.toString),
      replace = true, quantize = meta.contains("vidx.sq"),
      trainIters = meta.getOrElse("vidx.train", "0").toInt)

    Manifest.commitSteps(spark, srcRoot, base, srcHead) match {
      case None => full()
      case Some(steps) if steps.exists {
          case Manifest.DeleteStep(_, _, kc, _) => kc != Seq(idCol)
          case _ => false } =>
        full() // a delete not keyed on the vector id: can't propagate
      case Some(steps) =>
        try {
          steps.foreach {
            case Manifest.AppendStep(v, added) =>
              val pivots = parse(meta("vidx.pivots"))
              val assigned = assign(withV(
                  Manifest.readSubset(spark, srcRoot, v, added),
                  idCol, vecCol, payload),
                pivots, payload)
              // quantize the delta with the FROZEN training ranges
              // (clamped) — re-training would silently re-code the
              // whole corpus
              val delta = sqBounds(meta).fold(assigned) {
                case (lo, hi) => quantizeRows(assigned, lo, hi, payload)
              }
              val vServe = sqBounds(meta).fold(col("v")) {
                case (lo, hi) => sqDecode(col("q"), lo, hi)
              }
              // the delta widens the stored angular bounds in place —
              // the CURRENT header's, which earlier steps of this
              // replay already advanced
              val curMeta = state(spark, indexRoot)
              Manifest.commitAppend(spark, indexRoot,
                delta.repartition(col(CellCol)),
                Seq(CellCol),
                extraMeta = curMeta.view
                  .filterKeys(_.startsWith("vidx."))
                  .toMap ++
                  appendBoundsMeta(curMeta, delta, pivots, vServe) +
                  ("vidx.base" -> v.toString))
            case Manifest.DeleteStep(_, v, kc, paths) =>
              // erasure propagates as a merge-on-read delete on the
              // INDEX — zero rewrite, O(deleted ids); probe-all stays
              // exact over the retained rows, and the frozen pivots /
              // SQ ranges stay valid (cell membership and codes are
              // per-row facts deletion cannot move)
              val keys = spark.read.parquet(paths.map(p =>
                  Manifest.absEntryPath(srcRoot, p)): _*)
                .select(col(kc.head).as("id")).distinct()
              Manifest.deleteByKeys(spark, indexRoot, keys,
                extraMeta = Map("vidx.base" -> v.toString))
          }
          // settle the base when trailing commits emitted no step (or
          // a delete matched zero keys and no-op'd)
          val cur = Manifest.latestVersion(spark, indexRoot).get
          val m2 = Manifest.snapshotMeta(spark, indexRoot, cur)
          if (m2.meta("vidx.base").toLong != srcHead)
            Manifest.publish(spark, indexRoot, cur, m2.entries,
              m2.meta + ("vidx.base" -> srcHead.toString), m2.deletes)
          else cur
        } catch {
          case scala.util.control.NonFatal(_) => full()
        }
    }
  }

  private def state(spark: SparkSession, indexRoot: String)
      : Map[String, String] = stateAt(spark, indexRoot)._1

  private def stateAt(spark: SparkSession, indexRoot: String)
      : (Map[String, String], Long) = {
    val head = Manifest.latestVersion(spark, indexRoot).getOrElse(
      throw new IllegalStateException(s"$indexRoot not initialized"))
    val meta = Manifest.snapshotMeta(spark, indexRoot, head).meta
    require(meta.contains("vidx.pivots"),
      s"$indexRoot is not a vector index (no vidx.pivots header)")
    (meta, head)
  }

  /** Append new vectors, assigned against the FROZEN create-time
    * pivots (cell membership never moves under append — the IVF
    * contract; re-train by rebuilding). */
  def append(spark: SparkSession, indexRoot: String, emb: DataFrame,
             idCol: String, vecCol: String): Long = {
    val meta = state(spark, indexRoot)
    require(!meta.contains("vidx.src"),
      s"$indexRoot is manifest-sourced (${meta.getOrElse("vidx.src",
        "")}): append rows to the SOURCE table and run " +
        "VectorIndex.refresh — a direct append would be re-indexed " +
        "by the next refresh as duplicates")
    val payload = payloadOf(meta)
    val pivots = parse(meta("vidx.pivots"))
    val assigned = assign(withV(emb, idCol, vecCol, payload),
      pivots, payload)
    val delta = sqBounds(meta).fold(assigned) { case (lo, hi) =>
      quantizeRows(assigned, lo, hi, payload)
    }
    // appends can only WIDEN a cell's angular bound: per-cell min of
    // the stored bound and the delta's (delta-sized pass, the same
    // maintenance shape as the delta itself)
    val vServe = sqBounds(meta).fold(col("v")) { case (lo, hi) =>
      sqDecode(col("q"), lo, hi)
    }
    Manifest.commitAppend(spark, indexRoot,
      delta.repartition(col(CellCol)),
      Seq(CellCol), extraMeta = meta.view.filterKeys(_.startsWith("vidx."))
        .toMap ++ appendBoundsMeta(meta, delta, pivots, vServe))
  }

  private def payloadOf(meta: Map[String, String]): Seq[String] =
    meta.getOrElse("vidx.payload", "").split(",").toSeq
      .filter(_.nonEmpty)

  /** Per-cell row counts from MANIFEST METADATA alone — the entries'
    * partition paths + their footer-derived row stats, zero data IO
    * (the property that makes this a planning stat a scheduler can
    * poll every commit). Cells with no files report 0. Pending
    * merge-on-read deletes OVERCOUNT until compaction folds them —
    * fine for a rebuild trigger, not an exact count. */
  def occupancy(spark: SparkSession, indexRoot: String)
      : Seq[(Int, Long)] = {
    val (meta, head) = stateAt(spark, indexRoot)
    val nCells = meta("vidx.cells").toInt
    val cellRe = s"""(?:^|/)$CellCol=(-?\\d+)/""".r
    val counted = Manifest.snapshotMeta(spark, indexRoot, head).entries
      .groupBy(e => cellRe.findFirstMatchIn(e.path).map(_.group(1).toInt)
        .getOrElse(-1))
      .view.mapValues(_.map(_.fileStats.map(_.rows).getOrElse(0L)).sum)
      .toMap
    (0 until nCells).map(c => c -> counted.getOrElse(c, 0L))
  }

  /** Occupancy skew = max cell rows / mean cell rows (mean over ALL
    * nCells, empty cells included) — 1.0 is perfectly balanced; a
    * skewed index probes its hot cell's oversized files on most
    * queries, which is what [[repivot]] re-trains away. */
  def occupancySkew(spark: SparkSession, indexRoot: String): Double = {
    val occ = occupancy(spark, indexRoot)
    val total = occ.map(_._2).sum
    if (total == 0L) 1.0
    else occ.map(_._2).max.toDouble / (total.toDouble / occ.size)
  }

  /** THREE-PHASE RE-PIVOT behind an [[IndexAlias]] — the q188/q228
    * serving discipline applied to IVF pivot drift: after heavy
    * appends the create-time pivots no longer reflect the corpus and
    * cell occupancy skews, degrading probe cost; this re-trains the
    * pivots on the CURRENT rows by rebuilding at `newRoot` (phase 1 —
    * the old index keeps serving), then atomically swaps the alias
    * (phase 2); the old root stays readable for in-flight queries
    * until vacuumed (phase 3). Contents are exactly the old index's
    * rows (a rebuild moves cell MEMBERSHIP, never membership of the
    * index itself); probe-all answers are therefore unchanged.
    *
    * Rebuild source: a manifest-sourced index rebuilds from its
    * source's head (exact vectors); a frame-built index rebuilds from
    * its own stored vectors — unless SQ8-quantized, where stored
    * vectors are lossy reconstructions and a silent re-code would
    * drift: that case refuses loudly (rebuild from the original
    * vector table instead). Returns the new root. */
  def repivot(spark: SparkSession, aliasRoot: String,
              newRoot: String): String = {
    val oldRoot = IndexAlias.resolve(spark, aliasRoot)
    val (meta, head) = stateAt(spark, oldRoot)
    val nCells = meta("vidx.cells").toInt
    val payload = payloadOf(meta)
    val idCol = meta("vidx.id"); val vecCol = meta("vidx.vec")
    meta.get("vidx.src") match {
      case Some(src) =>
        val srcHead = Manifest.latestVersion(spark, src).getOrElse(
          throw new IllegalStateException(s"$src not initialized"))
        build(spark, newRoot, Manifest.read(spark, src, Some(srcHead)),
          idCol, vecCol, nCells, payload,
          Map("vidx.src" -> src, "vidx.base" -> srcHead.toString),
          replace = false, quantize = meta.contains("vidx.sq"),
          trainIters = meta.getOrElse("vidx.train", "0").toInt)
      case None =>
        require(!meta.contains("vidx.sq"),
          s"$oldRoot is SQ8-quantized and frame-built: stored vectors " +
            "are lossy reconstructions — rebuild from the original " +
            "vector table with create() instead of repivot()")
        val rows = Manifest.read(spark, oldRoot, Some(head))
          .select(col("id").as(idCol) +: col("v").as(vecCol) +:
            payload.map(col): _*)
        build(spark, newRoot, rows, idCol, vecCol, nCells, payload,
          Map.empty, replace = false,
          trainIters = meta.getOrElse("vidx.train", "0").toInt)
    }
    IndexAlias.set(spark, aliasRoot, newRoot)
    newRoot
  }

  /** ANN search for an EXTERNAL query vector: probe the `nProbe` cells
    * whose pivots are nearest the query (driver arithmetic over the
    * header pivots — zero IO), then a partition-pruned scan of those
    * cells with map-side cosine and TakeOrderedAndProject. `nProbe >=
    * nCells` probes everything and is EXACT (row-equal to brute force
    * over the indexed rows) — the oracle anchor; partial probes trade
    * recall for the pruned scan.
    *
    * `filter` is the FILTERED-ANN predicate (OpenSearch kNN `filter`,
    * FAISS IDSelector) over the id and the create-time payload
    * columns: it applies BEFORE ranking, inside the probed cells —
    * pre-filtering, so the top-k is k SURVIVING neighbors, never a
    * post-filtered hole-y page — and being a plain predicate on the
    * index's own columns it pushes into the parquet scan. With partial
    * probes a selective filter warrants a larger `nProbe` (the
    * standard over-probe rule); probe-all stays exact under any
    * filter. */
  def search(spark: SparkSession, indexRoot: String,
             queryVec: Array[Double], k: Int, nProbe: Int,
             filter: Option[org.apache.spark.sql.Column] = None)
      : DataFrame = {
    require(k >= 1 && nProbe >= 1, "k and nProbe must be >= 1")
    val (meta, head) = stateAt(spark, indexRoot)
    val probed = Similarity.probe(Seq(0L -> queryVec),
        parse(meta("vidx.pivots")).zipWithIndex
          .map { case (p, c) => (c.toLong, p) }, nProbe)
      .map(_._2.toInt)
    val qv = array(queryVec.map(lit(_)): _*)
    // an SQ8 index decodes level midpoints from its byte codes; the
    // probed-cell scan reads the code column (~1/8 the bytes), never a
    // full vector
    val vExpr = sqBounds(meta).fold(col("v")) { case (lo, hi) =>
      sqDecode(col("q"), lo, hi)
    }
    // pinned to the header's version: scanning 'latest' could read a
    // rebuild committed after the pivots above were resolved
    Manifest.read(spark, indexRoot, Some(head))
      .filter(col(CellCol).isin(probed: _*))
      .filter(filter.getOrElse(lit(true)))
      .select(col("id"), Vectors.cosine(vExpr, qv).as("cosine"))
      .orderBy(col("cosine").desc, col("id").asc)
      .limit(k)
  }

  /** Per-cell widest member angle θmax — π (cover everything) when the
    * index predates the [[CellCosKey]] stat: range ops stay EXACT,
    * they just probe every cell. */
  private def thetaMax(meta: Map[String, String], nCells: Int)
      : Array[Double] =
    boundsOf(meta).fold(Array.fill(nCells)(math.Pi))(
      _.map(c => math.acos(clampCos(c))))

  private def servedVec(meta: Map[String, String])
      : org.apache.spark.sql.Column =
    sqBounds(meta).fold(col("v")) { case (lo, hi) =>
      sqDecode(col("q"), lo, hi)
    }

  /** EXACT cosine RANGE (radius) search: every indexed row with
    * `cosine(row, queryVec) >= minCosine`, served from a
    * partition-pruned scan of only the cells the per-cell angular
    * bound cannot rule out. Unlike top-k probing this needs NO
    * validate-then-pin: a cell is skipped only when the spherical
    * triangle inequality PROVES no member can reach the radius
    * (θ(q,pivot) − θmax(cell) > arccos τ, with a 1e-9 slack that
    * swamps arccos rounding and only ever ADDS cells). The semantic-
    * dedup / decontamination primitive: "everything within cosine τ
    * of this vector", at probed-cells cost on clusterable corpora and
    * at probe-all cost (still exact) in the worst case. Zero-norm
    * rows have NULL cosine and never match. Returns `(id, cosine)`. */
  def rangeSearch(spark: SparkSession, indexRoot: String,
                  queryVec: Array[Double], minCosine: Double,
                  filter: Option[org.apache.spark.sql.Column] = None)
      : DataFrame = {
    require(minCosine >= -1.0 && minCosine <= 1.0,
      s"minCosine must be in [-1, 1], got $minCosine")
    val (meta, head) = stateAt(spark, indexRoot)
    val pivots = parse(meta("vidx.pivots"))
    val thMax = thetaMax(meta, pivots.size)
    val tauA = math.acos(clampCos(minCosine))
    val probed = pivots.zipWithIndex.collect {
      case (p, c) if math.acos(clampCos(driverCos(queryVec, p))) -
        thMax(c) <= tauA + AngleSlack => c
    }
    val qv = array(queryVec.map(lit(_)): _*)
    val t = Manifest.read(spark, indexRoot, Some(head))
    val pruned =
      if (probed.isEmpty) t.filter(lit(false))
      else t.filter(col(CellCol).isin(probed: _*))
    pruned
      .filter(filter.getOrElse(lit(true)))
      .select(col("id"), Vectors.cosine(servedVec(meta), qv).as("cosine"))
      .filter(col("cosine") >= minCosine)
  }

  /** Batched [[rangeSearch]] for a QUERY-FRAME: all `(query, row)`
    * pairs with cosine >= `minCosine` — the decontamination shape
    * (eval set × corpus). `queries` is broadcast-batch-sized by
    * contract (the q245/q250 convention); admission replays the same
    * provable bound per (query, cell) as one |Q|·nCells expression —
    * no pins, exact at any probe outcome. Returns
    * `(query_id, id, cosine)`. */
  def rangeJoin(spark: SparkSession, indexRoot: String,
                queries: DataFrame, queryIdCol: String, vecCol: String,
                minCosine: Double): DataFrame = {
    require(minCosine >= -1.0 && minCosine <= 1.0,
      s"minCosine must be in [-1, 1], got $minCosine")
    val (meta, head) = stateAt(spark, indexRoot)
    val pivots = parse(meta("vidx.pivots"))
    val thMax = thetaMax(meta, pivots.size)
    import spark.implicits._
    val pf = broadcast(pivots.zipWithIndex
      .map { case (p, c) => (c, p.toSeq, thMax(c)) }
      .toDF(CellCol, "_pv", "_thmax"))
    val tauA = math.acos(clampCos(minCosine))
    val qset = broadcast(queries.select(
      col(queryIdCol).as("query_id"),
      Vectors.toDouble(col(vecCol)).as("_qv")))
    val admitted = broadcast(qset.crossJoin(pf)
      .filter(acos(greatest(lit(-1.0), least(lit(1.0),
          coalesce(Vectors.cosine(col("_qv"), col("_pv")), lit(-1.0)))))
        - col("_thmax") <= lit(tauA + AngleSlack))
      .select(col("query_id"), col("_qv"), col(CellCol)))
    Manifest.read(spark, indexRoot, Some(head))
      .join(admitted, Seq(CellCol))
      .select(col("query_id"), col("id"),
        Vectors.cosine(servedVec(meta), col("_qv")).as("cosine"))
      .filter(col("cosine") >= minCosine)
  }

  /** EXACT blocked SELF range join: every unordered indexed pair with
    * cosine >= `minCosine`, as `(id1 < id2, cosine)` — the corpus-
    * wide semantic-near-dup primitive. Candidate generation is by
    * CELL PAIR, not all-pairs: cells (c1, c2) join only when
    *   θ(p1,p2) ≤ θmax(c1) + θmax(c2) + arccos τ
    * (any qualifying cross pair forces the pivots that close —
    * triangle inequality through both members), an nCells² driver
    * check; rows then shuffle once, keyed by partner cell. On a
    * clustered corpus the admitted pairs hug the diagonal and the
    * join does cells·(cell pop)² work instead of n²; worst case
    * degrades to the exact all-pairs join, never to a wrong answer. */
  def selfRangePairs(spark: SparkSession, indexRoot: String,
                     minCosine: Double): DataFrame = {
    require(minCosine >= -1.0 && minCosine <= 1.0,
      s"minCosine must be in [-1, 1], got $minCosine")
    val (meta, head) = stateAt(spark, indexRoot)
    val pivots = parse(meta("vidx.pivots"))
    val thMax = thetaMax(meta, pivots.size)
    val tauA = math.acos(clampCos(minCosine))
    val n = pivots.size
    // ORDERED admitted pairs (both orientations; the id1 < id2 filter
    // then counts each unordered row pair exactly once, whichever
    // side of the orientation its lower id lives on)
    val pairs = for {
      c1 <- 0 until n; c2 <- 0 until n
      if math.acos(clampCos(driverCos(pivots(c1), pivots(c2)))) <=
        thMax(c1) + thMax(c2) + tauA + AngleSlack
    } yield (c1, c2)
    import spark.implicits._
    val t = Manifest.read(spark, indexRoot, Some(head))
      .select(col(CellCol), col("id"), servedVec(meta).as("_v"))
    val a = t.select(col(CellCol).as("_c1"), col("id").as("id1"),
      col("_v").as("_v1"))
    val b = t.select(col(CellCol).as("_c2"), col("id").as("id2"),
      col("_v").as("_v2"))
    a.join(broadcast(pairs.toDF("_c1", "_c2")), Seq("_c1"))
      .join(b, Seq("_c2"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        Vectors.cosine(col("_v1"), col("_v2")).as("cosine"))
      .filter(col("cosine") >= minCosine)
  }
}
