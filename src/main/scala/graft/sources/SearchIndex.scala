package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Search

/** MATERIALIZED inverted index over a manifest table — the missing
  * scale piece of the BM25 family: `Search.rankBm25` (q144) re-analyzes
  * the corpus on every query, which is the right shape for ad-hoc
  * search but the wrong one for a serving index at 100 TB, where the
  * corpus is tokenized ONCE and every query touches only its own
  * terms' postings. This is what the reference's OpenSearch tier
  * actually is (an index maintained by the ingest lambda,
  * index-data-lambda.py:390-411, queried by lambda-function.py:108-172)
  * — re-expressed as a versioned manifest table the rest of this
  * library already knows how to commit, time-travel, and stream.
  *
  * LAYOUT — one manifest table, hash-partitioned by `bucket` =
  * crc32(token) mod B ∈ [0, B): rows (token, id, tf, dl[, ps]). A term
  * lookup prunes to its term buckets via manifest partition pruning
  * (pruned at planning), so query cost is O(postings of the
  * query's terms), independent of corpus size. The document's analyzed
  * length `dl` is DENORMALIZED onto every one of its postings rows —
  * the Lucene norms-with-postings move — so BM25 needs NO doc-length
  * side table and NO join: before this, every served query scanned one
  * doc-length row per corpus document (an O(N-docs) leg that
  * contradicted the O(query-postings) claim); now the pruned postings
  * rows carry everything the scorer needs, at ~8 bytes/posting.
  *
  * COLLECTION STATS ride the commit header (`idx.n` docs, `idx.ndl`
  * docs with non-null text, `idx.sumdl` total tokens) and are
  * delta-maintained on refresh — BM25's N and avgdl are driver
  * literals; a query never aggregates the corpus. The stats themselves
  * are folded into the index-build WRITE job via an `Observation` on
  * the per-document analyzed frame (zero extra corpus passes, zero
  * extra jobs — they land in the same commit through
  * [[Manifest.init]]'s `lateMeta` hook).
  *
  * REFRESH COST ∝ CHANGES (the q142 MaterializedAgg contract): the
  * file-level diff between the indexed base version and the source
  * head drives it. Append-only commits index just the added files
  * (one commit, atomic). Rewrites (compaction, copy-on-write merge)
  * first erase removed files' docs with a merge-on-read
  * [[Manifest.deleteByKeys]] (O(changed docs)), then append the
  * re-indexed docs. That pair is not atomic, so the delete commit
  * stamps `idx.pending` = target version; base advances only with the
  * append. A crash between them leaves pending ≠ base — reads refuse
  * loudly and the next [[refresh]] heals with a full rebuild.
  * Falls back to a full rebuild when the incremental contract breaks
  * (merge-on-read deletes pending at either end, vacuumed base,
  * reclaimed removed files) — never silently wrong.
  *
  * PRECONDITION: source rows are unique by `idCol` (run exact dedup
  * upstream — q41's operator); duplicate ids would split a document's
  * postings across rows and BM25 is not linear in tf. */
object SearchIndex {

  private val BucketCol = "bucket"

  /** JVM twin of Spark's `crc32` over UTF-8 bytes — term→bucket
    * routing is decided on the driver so the scan carries a literal
    * partition predicate. */
  private def crc32Of(s: String): Long = {
    val c = new java.util.zip.CRC32()
    c.update(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    c.getValue
  }

  def termBucket(term: String, buckets: Int): Int =
    (crc32Of(term) % buckets).toInt

  /** Per-document analyzed frame (id, toks, dl) — ONE tokenizer pass
    * feeds the postings explode, the denormalized per-posting dl, AND
    * (via `observe`) the collection stats, all inside the same write
    * job. dl = size(tokens(text)) map-side (null text → null dl). */
  private def analyzedDocs(docs: DataFrame, idCol: String,
                           textCol: String): DataFrame =
    graft.scaleOut(docs, col(idCol))
      .select(col(idCol),
        graft.functions.Text.tokens(col(textCol)).as("toks"))
      .select(col(idCol), col("toks"),
        size(col("toks")).cast("long").as("dl"))

  /** Stats observation over a per-document frame: (docs, docs with
    * non-null text, total tokens) accumulated DURING whatever action
    * first executes the returned frame — the replacement for the old
    * separate `docStats` aggregation job. */
  private def observed(analyzed: DataFrame, obs: Observation): DataFrame =
    analyzed.observe(obs, count(lit(1)).as("n"),
      count(col("dl")).as("ndl"), sum(col("dl")).as("sumdl"))

  private def statsOf(obs: Observation): (Long, Long, Long) = {
    val m = obs.get
    def l(k: String): Long = m.get(k) match {
      case Some(v: Number) => v.longValue()
      case _ => 0L
    }
    (l("n"), l("ndl"), l("sumdl"))
  }

  /** Postings rows for `docs`, bucket-routed, dl-denormalized. With
    * `positions`, each row also carries the token's SORTED in-document
    * position array (the Lucene positional-postings analog) — what
    * phrase/span queries need to run from the index; ~4 bytes per
    * corpus token of extra index size, the standard price. */
  private def indexRows(docs: DataFrame, idCol: String, textCol: String,
                        buckets: Int, positions: Boolean,
                        obs: Option[Observation]): DataFrame = {
    val base = analyzedDocs(docs, idCol, textCol)
    val analyzed = obs.fold(base)(observed(base, _))
    // explode_outer + isNotNull instead of plain explode so the
    // optimizer's inferred size() filter can't re-inline the tokenizer
    // below the exchange (see Dedup.minhashSignatures)
    val stream =
      if (positions)
        analyzed.select(col(idCol), col("dl"),
          posexplode_outer(col("toks")).as(Seq("pos", "token")))
      else
        analyzed.select(col(idCol), col("dl"),
          explode_outer(col("toks")).as("token"))
    // dl is functionally determined by the id, so grouping by it too
    // changes no groups — it just rides the ONE (token, id) postings
    // aggregation for free instead of joining back afterwards
    val aggs = count(lit(1)).as("tf") +:
      (if (positions) Seq(sort_array(collect_list(col("pos"))).as("ps"))
       else Nil)
    val postings = stream.filter(col("token").isNotNull)
      .groupBy(col("token"), col(idCol), col("dl"))
      .agg(aggs.head, aggs.tail: _*)
      .select(
        pmod(crc32(col("token")), lit(buckets.toLong)).cast("int")
          .as(BucketCol) +:
        col("token") +: col(idCol) +: col("tf") +: col("dl") +:
        (if (positions) Seq(col("ps")) else Nil): _*)
    // Cluster by bucket BEFORE the partitioned write: without this, a
    // W-partition shuffle writing P hive partitions leaves up to W×P
    // files per commit (measured ~640 tiny files per index commit at
    // the bench SF — and every search then plans over all of them);
    // clustered, a commit writes ≈ one file per touched bucket. At
    // 100 TB per-bucket volume is controlled by `buckets` itself (the
    // default 64 → more, smaller buckets), so the clustering shuffle
    // stays balanced — it is the SAME hash the bucket column already
    // encodes.
    postings.repartition(col(BucketCol))
  }

  private def stateMeta(srcRoot: String, idCol: String, textCol: String,
                        buckets: Int, base: Long,
                        stats: (Long, Long, Long),
                        positions: Boolean): Map[String, String] =
    Map("idx.src" -> srcRoot, "idx.id" -> idCol, "idx.text" -> textCol,
      "idx.buckets" -> buckets.toString, "idx.base" -> base.toString,
      "idx.pending" -> base.toString,
      "idx.positions" -> positions.toString,
      "idx.layout" -> Layout,
      "idx.n" -> stats._1.toString, "idx.ndl" -> stats._2.toString,
      "idx.sumdl" -> stats._3.toString)

  /** Physical-layout version stamped in the header. "2" = dl
    * denormalized onto every postings row, no doc-length bucket range.
    * Serving against any OTHER layout refuses loudly (an old table's
    * postings rows would read dl = NULL through schema evolution and
    * score silently wrong); [[refresh]] HEALS an old-layout index with
    * a full rebuild instead. */
  private val Layout = "2"

  private def layoutOf(meta: Map[String, String]): String =
    meta.getOrElse("idx.layout", "1")

  private def requireLayout(root: String,
                            meta: Map[String, String]): Unit =
    require(layoutOf(meta) == Layout,
      s"$root uses index layout ${layoutOf(meta)} but this build " +
        s"serves layout $Layout (dl-on-postings) — run " +
        "SearchIndex.refresh to rebuild it in place")

  /** Build the index at the source's current version — the last full
    * tokenization pass this index ever needs on the append-only path,
    * and the ONLY job this method runs (stats ride the write via
    * `observe` + `lateMeta`). `positions = true` stores per-posting
    * position arrays so phrase / span-near queries can be served from
    * the index ([[searchNear]]). */
  def create(spark: SparkSession, srcRoot: String, indexRoot: String,
             idCol: String, textCol: String, buckets: Int = 64,
             positions: Boolean = false): Long = {
    require(buckets >= 1, "buckets must be >= 1")
    require(!idCol.contains(",") && idCol != BucketCol &&
        idCol != "token" && idCol != "tf" && idCol != "dl" &&
        idCol != "ps",
      s"id column '$idCol' collides with the index's own columns")
    val head = Manifest.latestVersion(spark, srcRoot).getOrElse(
      throw new IllegalStateException(s"$srcRoot not initialized"))
    val docs = Manifest.read(spark, srcRoot, Some(head))
    val obs = Observation()
    Manifest.init(spark, indexRoot,
      indexRows(docs, idCol, textCol, buckets, positions, Some(obs)),
      Seq(BucketCol),
      lateMeta = () => stateMeta(srcRoot, idCol, textCol, buckets, head,
        statsOf(obs), positions))
  }

  private def state(spark: SparkSession, indexRoot: String,
                    asOf: Option[Long] = None)
      : (Map[String, String], Long) = {
    val head = asOf.getOrElse(
      Manifest.latestVersion(spark, indexRoot).getOrElse(
        throw new IllegalStateException(s"$indexRoot not initialized")))
    asOf.foreach(v => require(
      Manifest.versions(spark, indexRoot).contains(v),
      s"$indexRoot has no version $v"))
    val meta = Manifest.snapshotMeta(spark, indexRoot, head).meta
    require(meta.contains("idx.base"),
      s"$indexRoot is not a search index (no idx.base header)")
    (meta, head)
  }

  /** The source version the index currently serves. */
  def baseVersion(spark: SparkSession, indexRoot: String): Long =
    state(spark, indexRoot)._1("idx.base").toLong

  private def torn(meta: Map[String, String]): Boolean =
    meta.get("idx.pending").exists(_ != meta("idx.base"))

  /** Advance the index to the source's head. Incremental (cost ∝
    * changed files) when the file-diff contract holds; full rebuild
    * otherwise — including healing a torn delete+append refresh.
    * Returns the index table's new version. */
  def refresh(spark: SparkSession, srcRoot: String,
              indexRoot: String): Long = {
    val (meta, idxHead) = state(spark, indexRoot)
    require(meta("idx.src") == srcRoot,
      s"$indexRoot indexes ${meta("idx.src")}, not $srcRoot")
    val base = meta("idx.base").toLong
    val idCol = meta("idx.id"); val textCol = meta("idx.text")
    val buckets = meta("idx.buckets").toInt
    val positions = positionsOf(meta)
    val srcHead = Manifest.latestVersion(spark, srcRoot).getOrElse(
      throw new IllegalStateException(s"$srcRoot not initialized"))

    def full(): Long = {
      val docs = Manifest.read(spark, srcRoot, Some(srcHead))
      val obs = Observation()
      Manifest.commitReplace(spark, indexRoot,
        indexRows(docs, idCol, textCol, buckets, positions, Some(obs)),
        Seq(BucketCol),
        lateMeta = () => stateMeta(srcRoot, idCol, textCol, buckets,
          srcHead, statsOf(obs), positions))
    }

    // heal a crashed delete+append pair, and REBUILD any pre-layout-2
    // index in place (its rows have no dl column — incremental appends
    // onto it would mix layouts and score NULL)
    if (torn(meta) || layoutOf(meta) != Layout) return full()
    if (srcHead == base) return idxHead
    require(srcHead > base,
      s"$srcRoot is at v$srcHead but the index reflects v$base — " +
        "the source was replaced or rolled back; recreate the index")

    // incremental contract (same as MaterializedAgg.refresh): both
    // snapshots resolvable, no pending merge-on-read deletes at either
    // end (row-level retractions are invisible to a file diff), and
    // removed files still on disk to re-read their doc ids
    val plan: Option[(Set[String], Set[String])] =
      if (!Manifest.versions(spark, srcRoot).contains(base)) None
      else {
        val baseSnap = Manifest.snapshotMeta(spark, srcRoot, base)
        val headSnap = Manifest.snapshotMeta(spark, srcRoot, srcHead)
        if (baseSnap.deletes.nonEmpty || headSnap.deletes.nonEmpty) None
        else {
          val ch = Manifest.changedFiles(spark, srcRoot, base, srcHead)
          val p = new org.apache.hadoop.fs.Path(srcRoot)
          val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          if (ch.removed.forall(f =>
              fs.exists(new org.apache.hadoop.fs.Path(s"$srcRoot/$f"))))
            Some((ch.added.toSet, ch.removed.toSet))
          else None // vacuum reclaimed a removed file first
        }
      }

    plan match {
      case None =>
        replay(spark, srcRoot, indexRoot, meta, base, srcHead,
          idCol, textCol, buckets, positions).getOrElse(full())
      case Some((added, removed)) =>
        val addedDocs = Manifest.readSubset(spark, srcRoot, srcHead, added)
        val (nr, ndr, sr) =
          if (removed.isEmpty) (0L, 0L, 0L)
          else {
            // erase rewritten files' docs via merge-on-read delete; the
            // pending stamp makes a crash before the append detectable.
            // The removed docs' STATS observation rides the delete's own
            // key job (the ids are projected from the same analyzed
            // frame), so the erase costs no extra pass.
            val obsR = Observation()
            val analyzedR = observed(analyzedDocs(
              Manifest.readSubset(spark, srcRoot, base, removed),
              idCol, textCol), obsR)
            Manifest.deleteByKeys(spark, indexRoot,
              analyzedR.select(col(idCol)),
              extraMeta = Map("idx.pending" -> srcHead.toString))
            statsOf(obsR)
          }
        val obsA = Observation()
        Manifest.commitAppend(spark, indexRoot,
          indexRows(addedDocs, idCol, textCol, buckets, positions,
            Some(obsA)),
          Seq(BucketCol),
          lateMeta = () => {
            val (na, nda, sa) = statsOf(obsA)
            stateMeta(srcRoot, idCol, textCol, buckets, srcHead,
              (meta("idx.n").toLong + na - nr,
                meta("idx.ndl").toLong + nda - ndr,
                meta("idx.sumdl").toLong + sa - sr), positions)
          })
    }
  }

  private def positionsOf(meta: Map[String, String]): Boolean =
    meta.get("idx.positions").contains("true")

  /** Per-commit replay for source histories the batched file-diff
    * cannot express: appends interleaved with merge-on-read DELETES
    * keyed on the id column. An append step indexes that commit's
    * added files; a delete step reads the erased docs' pre-images
    * (the snapshot just before the delete, semi-joined to its keys —
    * the connector read runtime-prunes that scan to the keys' home
    * files), lets their token stats ride the delete-key job via
    * `observe`, and commits a merge-on-read delete of the same ids on
    * the INDEX with the decremented collection stats in the SAME
    * commit — the erasure path with zero source rewrite and zero
    * index rewrite, O(erased docs) end to end. Every step is a
    * consistent index snapshot (stats move with their postings, base
    * advances atomically), so a crash leaves a resumable prefix.
    * None → not replayable (rewrites, non-id deletes, vacuumed
    * history) — the caller full-rebuilds. */
  private def replay(spark: SparkSession, srcRoot: String,
                     indexRoot: String, meta: Map[String, String],
                     base: Long, srcHead: Long, idCol: String,
                     textCol: String, buckets: Int,
                     positions: Boolean): Option[Long] = {
    val steps = Manifest.commitSteps(spark, srcRoot, base, srcHead)
      .getOrElse(return None)
    if (steps.exists {
        case Manifest.DeleteStep(_, _, kc, _) => kc != Seq(idCol)
        case _ => false }) return None
    var (n, ndl, sumdl) = (meta("idx.n").toLong,
      meta("idx.ndl").toLong, meta("idx.sumdl").toLong)
    try {
      steps.foreach {
        case Manifest.AppendStep(v, added) =>
          val obsA = Observation()
          Manifest.commitAppend(spark, indexRoot,
            indexRows(Manifest.readSubset(spark, srcRoot, v, added),
              idCol, textCol, buckets, positions, Some(obsA)),
            Seq(BucketCol),
            lateMeta = () => {
              val (na, nda, sa) = statsOf(obsA)
              stateMeta(srcRoot, idCol, textCol, buckets, v,
                (n + na, ndl + nda, sumdl + sa), positions)
            })
          val (na, nda, sa) = statsOf(obsA)
          n += na; ndl += nda; sumdl += sa
        case Manifest.DeleteStep(vPre, v, kc, paths) =>
          val keys = spark.read.parquet(paths.map(p =>
              Manifest.absEntryPath(srcRoot, p)): _*)
            .select(col(kc.head)).distinct()
          val visible = spark.read.format("graft-manifest")
            .option("version", vPre.toString).load(srcRoot)
          val erased = visible.join(broadcast(keys),
            visible(idCol) <=> keys(kc.head), "left_semi")
          val obsR = Observation()
          val analyzedR = observed(
            analyzedDocs(erased, idCol, textCol), obsR)
          Manifest.deleteByKeys(spark, indexRoot,
            analyzedR.select(col(idCol)),
            lateMeta = () => {
              val (nr, ndr, sr) = statsOf(obsR)
              stateMeta(srcRoot, idCol, textCol, buckets, v,
                (n - nr, ndl - ndr, sumdl - sr), positions)
            })
          val (nr, ndr, sr) = statsOf(obsR)
          n -= nr; ndl -= ndr; sumdl -= sr
      }
      // settle the base when trailing commits emitted no step (or a
      // delete matched zero docs and no-op'd)
      val cur = Manifest.latestVersion(spark, indexRoot).get
      val m2 = Manifest.snapshotMeta(spark, indexRoot, cur)
      Some(
        if (m2.meta("idx.base").toLong != srcHead)
          Manifest.publish(spark, indexRoot, cur, m2.entries,
            m2.meta ++ Map("idx.base" -> srcHead.toString,
              "idx.pending" -> srcHead.toString), m2.deletes)
        else cur)
    } catch {
      case scala.util.control.NonFatal(_) => None // caller rebuilds
    }
  }

  /** Header snapshot for a serving query: the meta AND the version it
    * was resolved at. Every serving path scans the index PINNED to
    * this version — resolving stats at one version and then scanning
    * 'latest' would let a concurrent rewrite-refresh interleave its
    * torn delete commit between the two reads, returning erased
    * postings under the old stats, exactly the state the torn guard
    * exists to refuse. */
  private final case class Serving(meta: Map[String, String],
                                   head: Long, idCol: String,
                                   buckets: Int, n: Long, ndl: Long,
                                   sumdl: Long) {
    def avgdl(root: String): Double = {
      require(ndl > 0, s"$root indexes no non-empty documents")
      sumdl.toDouble / ndl
    }
  }

  private def serving(spark: SparkSession, indexRoot: String,
                      asOf: Option[Long] = None): Serving = {
    val (meta, head) = state(spark, indexRoot, asOf)
    requireLayout(indexRoot, meta)
    require(!torn(meta),
      s"$indexRoot has a torn refresh (pending=${meta("idx.pending")}" +
        s" base=${meta("idx.base")}); run SearchIndex.refresh to heal")
    Serving(meta, head, meta("idx.id"), meta("idx.buckets").toInt,
      meta("idx.n").toLong, meta("idx.ndl").toLong,
      meta("idx.sumdl").toLong)
  }

  /** The postings relation (token, id, tf). */
  def postings(spark: SparkSession, indexRoot: String): DataFrame = {
    val (meta, head) = state(spark, indexRoot)
    requireLayout(indexRoot, meta)
    Manifest.read(spark, indexRoot, Some(head))
      .select(col("token"), col(meta("idx.id")), col("tf"))
  }

  /** The pruned postings frame for a literal term set: ONLY the terms'
    * buckets' files are planned, every row already
    * carries its document's dl — the one scan every serving query is
    * built from. It keeps `bucket`, the scan's key-grouped partitioning
    * column, so a per-term window above it needs no exchange. */
  private def prunedPostings(spark: SparkSession, indexRoot: String,
                             sv: Serving, terms: Seq[String],
                             extraCols: Seq[String] = Nil): DataFrame = {
    val tBuckets = terms.map(termBucket(_, sv.buckets)).distinct
    Manifest.read(spark, indexRoot, Some(sv.head))
      .filter(col(BucketCol).isin(tBuckets: _*) &&
        col("token").isin(terms: _*))
      .select(col(sv.idCol) +: col(BucketCol) +: col("token") +: col("tf") +:
        col("dl") +: extraCols.map(col): _*)
  }

  /** A single index's df partitioning: a term lives in one bucket, so
    * (bucket, token) groups exactly the term's postings, and the pruned
    * scan already delivers them clustered by bucket. */
  private val TermKeys = Seq(BucketCol, "token")

  /** THE df rule: each postings row gains `df`, the distinct documents
    * of its term in the (already pruned) frame — a window partitioned
    * by `keys`, so no aggregate and no join back. */
  private def withDf(tf: DataFrame, idCol: String,
                     keys: Seq[String]): DataFrame =
    tf.withColumn("df", size(collect_set(col(idCol))
      .over(Window.partitionBy(keys.map(col): _*))).cast("long"))

  /** BM25 top-k served FROM THE INDEX — identical arithmetic (and
    * rounding) to [[Search.rankBm25]], so the two are hash-equal on the
    * same corpus, but the plan touches only the query terms' buckets:
    * partition-pruned postings scan (dl rides each row — no doc-length
    * join, nothing corpus-sized anywhere) → per-term df window over the
    * scan's own bucket grouping (no exchange) → per-document sum (one
    * shuffle) → TakeOrderedAndProject: two Spark jobs. N and avgdl come
    * from the header — zero corpus aggregation at query time.
    *
    * `after` = the OpenSearch `search_after` cursor: the (score, id)
    * sort key of the LAST hit of the previous page. Deep pagination as
    * a keyset predicate — rows at or before the cursor in the
    * (score desc, id asc) total order are filtered out BEFORE the
    * top-k heap, so page N costs exactly what page 1 costs (one pruned
    * postings pass + a k-row heap), never an offset-sized sort — the
    * reason ES deprecated `from`+`size` deep paging in favor of
    * search_after. The cursor compares against the ROUNDED score (the
    * sort key the caller saw), so pages tile exactly.
    *
    * `asOf` = TIME-TRAVEL SEARCH: answer the query from an older
    * VERSION of the index — postings, MoR deletes, AND the header
    * collection stats (N, avgdl) all come from that snapshot, because
    * the stats are delta-maintained per commit; the result is exactly
    * what the live query returned when that version was the head.
    * This falls out of the index being a versioned manifest table —
    * the OpenSearch tier has no analog (an index mutation there
    * destroys the prior state). */
  def searchBm25(spark: SparkSession, indexRoot: String, query: String,
                 k: Int, k1: Double = 1.2, b: Double = 0.75,
                 requireAll: Boolean = false,
                 after: Option[(Double, Any)] = None,
                 asOf: Option[Long] = None): DataFrame = {
    val sv = serving(spark, indexRoot, asOf)
    val terms = query.toLowerCase.split("\\s+").filter(_.nonEmpty)
      .distinct.toSeq
    require(terms.nonEmpty, "BM25 query needs at least one term")
    scorePostings(prunedPostings(spark, indexRoot, sv, terms), sv.idCol,
      sv.n, sv.avgdl(indexRoot), terms, k, k1, b, requireAll, after,
      TermKeys)
  }

  /** The BM25 scoring tail over a (idCol, token, tf, dl) postings
    * frame with DRIVER-literal N/avgdl — shared by the single-index
    * and sharded paths so their arithmetic cannot diverge. df comes
    * from [[withDf]] over `dfKeys`.
    * `shardGuard` (sharded path only) names a shard-ordinal column:
    * a doc id seen in >1 shard violates the disjointness precondition
    * and fails the QUERY loudly (raise_error inside the score
    * expression — zero extra jobs) instead of silently mis-ranking
    * merged scores. */
  private def scorePostings(tf: DataFrame, idCol: String,
                            n: Long, avgdl: Double, terms: Seq[String],
                            k: Int, k1: Double, b: Double,
                            requireAll: Boolean,
                            after: Option[(Double, Any)],
                            dfKeys: Seq[String],
                            shardGuard: Option[String] = None)
      : DataFrame = {
    val guard: Column = shardGuard match {
      case Some(sc) => when(countDistinct(col(sc)) > 1,
        raise_error(concat(
          lit("sharded search precondition violated: doc id "),
          col(idCol).cast("string"),
          lit(" appears in more than one shard — shards must " +
            "partition the document space"))).cast("double"))
        .otherwise(lit(0.0))
      case None => lit(0.0)
    }
    withDf(tf, idCol, dfKeys)
      .withColumn("_s", Search.bm25Weight(col("tf"), col("dl"),
        col("df"), lit(n.toDouble), lit(avgdl), k1, b))
      .groupBy(col(idCol))
      .agg((round(sum(col("_s")), 4) + guard).as("score"),
        count(lit(1)).as("matched"))
      .filter(if (requireAll) col("matched") === terms.size
        else lit(true))
      .filter(after match {
        case Some((s, id)) => col("score") < s ||
          (col("score") === s && col(idCol) > lit(id))
        case None => lit(true)
      })
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** SHARDED SEARCH WITH GLOBAL STATISTICS — BM25 over SEVERAL
    * indexes at once (indexes built per ingest wave, per tenant, per
    * partition — searched together without ever merging them), the
    * Elasticsearch `dfs_query_then_fetch` analog: naive per-shard
    * scoring ranks with per-shard N/avgdl/df and the merged page is
    * incomparable; here the collection stats are GLOBALIZED first —
    * N = Σ nᵢ and avgdl = Σ sumdlᵢ / Σ ndlᵢ from the headers (driver
    * arithmetic, zero IO), df from the UNION of the shards' pruned
    * postings, partitioned by token alone (shards route a term to
    * different buckets) — so the result is exactly what one index over the
    * union corpus would return (the oracle), while each shard's scan
    * still prunes to its own term buckets. Shards may disagree on
    * bucket count (each routes by its own header); they MUST
    * partition the document space (globally unique ids — same
    * precondition as the single index, per shard pair). Violations
    * fail the query loudly: each leg is tagged with its shard ordinal
    * and the scorer raises on any doc id spanning two shards. */
  def searchBm25Sharded(spark: SparkSession, indexRoots: Seq[String],
                        query: String, k: Int, k1: Double = 1.2,
                        b: Double = 0.75,
                        requireAll: Boolean = false): DataFrame = {
    require(indexRoots.nonEmpty, "sharded search needs >= 1 index")
    val shards = indexRoots.map(r => (r, serving(spark, r)))
    val idCol = shards.head._2.idCol
    require(shards.forall(_._2.idCol == idCol),
      "shards disagree on the id column")
    val n = shards.map(_._2.n).sum
    val ndl = shards.map(_._2.ndl).sum
    require(ndl > 0, "shards index no non-empty documents")
    val avgdl = shards.map(_._2.sumdl).sum.toDouble / ndl
    val terms = query.toLowerCase.split("\\s+").filter(_.nonEmpty)
      .distinct.toSeq
    require(terms.nonEmpty, "BM25 query needs at least one term")
    val legs = shards.zipWithIndex.map { case ((r, sv), i) =>
      prunedPostings(spark, r, sv, terms)
        .withColumn("_shard", lit(i))
    }
    scorePostings(legs.reduce(_ unionByName _), idCol, n, avgdl, terms,
      k, k1, b, requireAll, after = None, dfKeys = Seq("token"),
      shardGuard = Some("_shard"))
  }

  /** PHRASE / SPAN-NEAR SERVED FROM THE INDEX — requires a
    * positions-enabled index ([[create]] `positions = true`); refuses
    * loudly otherwise. `slop = 0` is exact `match_phrase`. The plan
    * prunes to the phrase terms' buckets, reads their stored position
    * arrays, and runs the SAME greedy span chain as the corpus pass
    * (`Search.spanFromPerTerm` — shared code, cannot diverge), scored
    * as one-term BM25 with df = matching docs (one broadcast row) and
    * N/avgdl from the header; dl comes off the matched docs' own
    * pruned postings rows (max over a doc's rows — they all carry the
    * same value), so nothing corpus-sized is read. Query cost
    * O(phrase-term postings) — the corpus is never re-tokenized, which
    * is the entire point of storing positions.
    *
    * Returns (idCol, score, span_tf), top `k`. */
  def searchNear(spark: SparkSession, indexRoot: String, phrase: String,
                 slop: Int, k: Int, k1: Double = 1.2,
                 b: Double = 0.75): DataFrame = {
    val sv = serving(spark, indexRoot)
    require(positionsOf(sv.meta),
      s"$indexRoot was built without positions — recreate with " +
        "SearchIndex.create(..., positions = true) to serve phrase " +
        "queries")
    val avgdl = sv.avgdl(indexRoot)
    val terms = Search.parseSpanTerms(phrase, slop)
    val pruned = prunedPostings(spark, indexRoot, sv, terms.distinct,
      extraCols = Seq("ps"))
    val hits = Search.spanFromPerTerm(
      pruned.select(col(sv.idCol), col("token"), col("ps")),
      sv.idCol, terms, slop)
    val dl = pruned.groupBy(col(sv.idCol)).agg(max(col("dl")).as("dl"))
    val dfp = hits.agg(count(lit(1)).as("df"))
    hits.join(dl, sv.idCol)
      .crossJoin(broadcast(dfp))
      .withColumn("score", round(Search.bm25Weight(col("span_tf"),
        col("dl"), col("df"), lit(sv.n.toDouble), lit(avgdl), k1, b),
        4))
      .select(col(sv.idCol), col("score"), col("span_tf"))
      .orderBy(col("score").desc, col(sv.idCol).asc)
      .limit(k)
  }

  /** BOOL QUERY SERVED FROM THE INDEX — `Search.searchBool` semantics
    * (must gates, must_not anti-join, should boosts; identical BM25
    * arithmetic) answered from the pruned buckets of must ∪ should ∪
    * mustNot, with N/avgdl from the header, dl on the postings rows
    * themselves and df from the same per-term window as [[searchBm25]].
    * Query cost O(those terms' postings). */
  def searchBool(spark: SparkSession, indexRoot: String,
                 must: Seq[String], should: Seq[String],
                 mustNot: Seq[String], k: Int, k1: Double = 1.2,
                 b: Double = 0.75): DataFrame = {
    val sv = serving(spark, indexRoot)
    val idCol = sv.idCol
    val avgdl = sv.avgdl(indexRoot)
    val mustT = must.map(_.toLowerCase).distinct
    val shouldT = should.map(_.toLowerCase).distinct
      .filterNot(mustT.contains)
    val notT = mustNot.map(_.toLowerCase).distinct
    val scoreT = mustT ++ shouldT
    require(scoreT.nonEmpty, "bool query needs a must or should term")
    require(notT.intersect(scoreT).isEmpty,
      "a term cannot be both required/optional and excluded")
    val tf = prunedPostings(spark, indexRoot, sv, scoreT ++ notT)
    val banned = tf.filter(col("token").isin(notT: _*))
      .select(col(idCol)).distinct()
    withDf(tf.filter(col("token").isin(scoreT: _*)), idCol, TermKeys)
      .withColumn("_s", Search.bm25Weight(col("tf"), col("dl"),
        col("df"), lit(sv.n.toDouble), lit(avgdl), k1, b))
      .withColumn("_m",
        when(col("token").isin(mustT: _*), lit(1L)).otherwise(lit(0L)))
      .groupBy(col(idCol))
      .agg(round(sum(col("_s")), 4).as("score"),
        count(lit(1)).as("matched"), sum(col("_m")).as("_mm"))
      .filter(col("_mm") === mustT.size).drop("_mm")
      .join(banned, Seq(idCol), "left_anti")
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** FUZZY TERM MATCH SERVED FROM THE INDEX — `Search.matchFuzzy`
    * semantics (edit distance ≤ maxEdits, integer score
    * Σ tf·(maxEdits+1−dist)). A hash-bucketed layout cannot prune an
    * edit-distance predicate, so this scans the POSTINGS buckets'
    * token column — but those rows are the already-aggregated
    * (token, doc, tf) postings: the length-window + levenshtein
    * candidate filter runs over |postings of candidate-length tokens|
    * rows with the predicate pushed to the parquet scan, and the
    * corpus is never re-tokenized. If fuzzy queries are hot, maintain
    * a [[createFuzzyTwin]] n-gram term dictionary and serve them with
    * [[matchFuzzyFromTwin]] — candidate vocabulary bounded by gram
    * pruning, postings pruned to the candidates' buckets. */
  def matchFuzzy(spark: SparkSession, indexRoot: String, term: String,
                 k: Int, maxEdits: Int = 2): DataFrame = {
    val sv = serving(spark, indexRoot)
    val idCol = sv.idCol
    val q = term.toLowerCase
    require(q.nonEmpty && !q.contains(" "),
      s"fuzzy match takes ONE term, got '$term' — use searchBm25 for " +
        "multi-term")
    Manifest.read(spark, indexRoot, Some(sv.head))
      .filter(abs(length(col("token")) - lit(q.length)) <= maxEdits &&
        levenshtein(col("token"), lit(q)) <= maxEdits)
      .withColumn("dist", levenshtein(col("token"), lit(q)))
      .groupBy(col(idCol))
      .agg(sum(col("tf") * (lit(maxEdits + 1) - col("dist"))).as("score"),
        count(lit(1)).as("matched"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** Completion suggest served FROM THE INDEX — identical semantics to
    * `Search.suggest` (freq = collection frequency = Σ tf) but with NO
    * corpus tokenization: one scan of the postings buckets. A
    * hash-bucketed layout cannot prune a PREFIX predicate — at scale,
    * if suggest is hot, maintain a token-RANGE partitioned twin of the
    * postings table ([[createSuggestTwin]]); the per-token rows here
    * are already aggregated, so even the unpruned scan reads
    * |vocabulary| rows, not |corpus tokens|.
    * Returns (token, freq, docs), top `k`. */
  def suggest(spark: SparkSession, indexRoot: String, prefix: String,
              k: Int): DataFrame = {
    val sv = serving(spark, indexRoot)
    Manifest.read(spark, indexRoot, Some(sv.head))
      .filter(col("token").startsWith(prefix.toLowerCase))
      .groupBy(col("token"))
      // postings are unique by (token, id) — one row per live doc per
      // term — so doc frequency is a plain count, not a countDistinct
      // (which would plan a second, pointless dedup exchange)
      .agg(sum(col("tf")).as("freq"), count(lit(1)).as("docs"))
      .orderBy(col("freq").desc, col("token").asc)
      .limit(k)
  }

  /** The token-RANGE partitioned SUGGEST TWIN the [[suggest]] Scaladoc
    * names as the at-scale move: a hash-bucketed postings layout
    * cannot prune a PREFIX predicate, so if completion suggest is hot,
    * materialize the per-token aggregates (token, freq, docs) AS THEIR
    * OWN manifest table partitioned by the token's first character —
    * a prefix lookup then prunes to one partition at planning and
    * scans only that character's share of the
    * vocabulary. The twin is |vocabulary|-sized (already aggregated),
    * so building or rebuilding it costs one scan of the postings
    * buckets — nothing corpus-sized — and `sug.base` records the index
    * version it reflects. */
  def createSuggestTwin(spark: SparkSession, indexRoot: String,
                        twinRoot: String): Long =
    createTwin(spark, indexRoot, twinRoot, "sug", "p1", twinRows)

  /** Rebuild the twin at the index's current head (vocabulary-sized
    * work); a no-op commit-wise when already current. */
  def refreshSuggestTwin(spark: SparkSession, indexRoot: String,
                         twinRoot: String): Long =
    refreshTwin(spark, indexRoot, twinRoot, "sug", "suggest", "p1",
      twinRows)

  // ---- shared twin plumbing (suggest + fuzzy): both twins are
  // vocabulary-sized derived tables stamped with the index version
  // they reflect (`<p>.src` / `<p>.base`), created once and rebuilt
  // wholesale on refresh (a no-op commit-wise when current) ----------

  private def twinMeta(prefix: String, indexRoot: String,
                       sv: Serving): Map[String, String] =
    Map(s"$prefix.src" -> indexRoot, s"$prefix.base" -> sv.head.toString)

  /** The twin's (meta, head), checked to belong to `indexRoot`. */
  private def twinState(spark: SparkSession, twinRoot: String,
                        prefix: String, kind: String, indexRoot: String)
      : (Map[String, String], Long) = {
    val head = Manifest.latestVersion(spark, twinRoot).getOrElse(
      throw new IllegalStateException(s"$twinRoot not initialized"))
    val meta = Manifest.snapshotMeta(spark, twinRoot, head).meta
    require(meta.get(s"$prefix.src").contains(indexRoot),
      s"$twinRoot is not a $kind twin of $indexRoot")
    (meta, head)
  }

  private def createTwin(spark: SparkSession, indexRoot: String,
                         twinRoot: String, prefix: String,
                         partCol: String,
                         rows: (SparkSession, String, Serving) => DataFrame)
      : Long = {
    val sv = serving(spark, indexRoot)
    Manifest.init(spark, twinRoot, rows(spark, indexRoot, sv),
      Seq(partCol), extraMeta = twinMeta(prefix, indexRoot, sv))
  }

  private def refreshTwin(spark: SparkSession, indexRoot: String,
                          twinRoot: String, prefix: String,
                          kind: String, partCol: String,
                          rows: (SparkSession, String, Serving) => DataFrame)
      : Long = {
    val sv = serving(spark, indexRoot)
    val (meta, head) = twinState(spark, twinRoot, prefix, kind,
      indexRoot)
    if (meta(s"$prefix.base").toLong == sv.head) head
    else Manifest.commitReplace(spark, twinRoot,
      rows(spark, indexRoot, sv), Seq(partCol),
      extraMeta = twinMeta(prefix, indexRoot, sv))
  }

  private def twinRows(spark: SparkSession, indexRoot: String,
                       sv: Serving): DataFrame =
    Manifest.read(spark, indexRoot, Some(sv.head))
      .groupBy(col("token"))
      // (token, id)-unique postings → docs = count, not countDistinct;
      // the distinct variant planned a second full exchange over the
      // postings for an answer the layout already guarantees
      .agg(sum(col("tf")).as("freq"), count(lit(1)).as("docs"))
      .select(substring(col("token"), 1, 1).as("p1"), col("token"),
        col("freq"), col("docs"))
      .repartition(col("p1"))

  /** Completion suggest from the twin — identical semantics and
    * ordering to [[suggest]], but the scan prunes to the prefix's
    * first-character partition. */
  def suggestFromTwin(spark: SparkSession, twinRoot: String,
                      prefix: String, k: Int): DataFrame = {
    val p = prefix.toLowerCase
    require(p.nonEmpty, "suggest needs a non-empty prefix")
    // first CODE POINT, not code unit: Spark's substring stored a full
    // supplementary-plane character in p1; a lone surrogate would
    // never match it
    val p1 = p.substring(0, p.offsetByCodePoints(0, 1))
    Manifest.read(spark, twinRoot)
      .filter(col("p1") === p1 &&
        col("token").startsWith(p))
      .select(col("token"), col("freq"), col("docs"))
      .orderBy(col("freq").desc, col("token").asc)
      .limit(k)
  }

  // ---------------------------------------------------------------------
  // FUZZY TWIN — the n-gram term dictionary Lucene solves fuzzy queries
  // with (FuzzyQuery intersects a Levenshtein automaton with the term
  // dictionary; the classic pre-automaton design is an n-gram index over
  // the vocabulary). [[matchFuzzy]] is honest about scanning all
  // postings buckets under a levenshtein filter; the twin bounds the
  // CANDIDATE VOCABULARY instead: a token within `e` edits of the query
  // must share all but 3e of the query's distinct padded 3-grams (each
  // edit destroys at most 3 grams of the ^token$-padded form), so the
  // lookup prunes to the query's own gram partitions, counts shared
  // grams per token, verifies with levenshtein over that tiny candidate
  // set, and then reads ONLY the matched variants' postings buckets —
  // both scans partition-pruned, nothing vocabulary- or corpus-sized.
  // ---------------------------------------------------------------------

  private val GramBuckets = 32

  /** Padded character 3-grams of a token — DISTINCT (the twin stores
    * set membership; shared-gram counting must not double-count a gram
    * that repeats inside the token). "^" / "$" padding gives |t| grams
    * for any non-empty token, so 1- and 2-char tokens are indexed too. */
  private def gramsOf(t: String): Seq[String] = {
    val p = "^" + t + "$"
    (0 to p.length - 3).map(i => p.substring(i, i + 3)).distinct
  }

  /** Build the n-gram term-dictionary twin: one vocabulary-sized pass
    * over the postings buckets → rows (gp, gram, token, len), gp =
    * crc32(gram) mod 32 the partition key a fuzzy lookup prunes on.
    * `fz.base` records the index version the twin reflects. */
  def createFuzzyTwin(spark: SparkSession, indexRoot: String,
                      twinRoot: String): Long =
    createTwin(spark, indexRoot, twinRoot, "fz", "gp", fuzzyTwinRows)

  /** Rebuild the fuzzy twin at the index's current head
    * (vocabulary-sized work); a no-op commit-wise when current. */
  def refreshFuzzyTwin(spark: SparkSession, indexRoot: String,
                       twinRoot: String): Long =
    refreshTwin(spark, indexRoot, twinRoot, "fz", "fuzzy", "gp",
      fuzzyTwinRows)

  private def fuzzyTwinRows(spark: SparkSession, indexRoot: String,
                            sv: Serving): DataFrame = {
    // distinct vocabulary → DISTINCT padded 3-grams, exploded (the
    // executor-side twin of [[gramsOf]] — same padding, same distinct)
    val vocab = Manifest.read(spark, indexRoot, Some(sv.head))
      .select(col("token")).distinct()
    val padded = concat(lit("^"), col("token"), lit("$"))
    vocab
      .select(col("token"), length(col("token")).as("len"),
        array_distinct(transform(sequence(lit(1), length(padded) - 2),
          i => padded.substr(i, lit(3)))).as("grams"))
      .select(col("token"), col("len"),
        explode_outer(col("grams")).as("gram"))
      .filter(col("gram").isNotNull)
      .select(pmod(crc32(col("gram")), lit(GramBuckets.toLong))
        .cast("int").as("gp"), col("gram"), col("token"), col("len"))
      .repartition(col("gp"))
  }

  /** Fuzzy term match served from the TWIN + the index — hash-equal to
    * [[matchFuzzy]] by construction (same score arithmetic over the
    * same matched variants), but the plan is fully pruned:
    *  1. candidate lookup scans ONLY the query's gram partitions
    *     (literal `gp` values → partition pruning) with the
    *     shared-gram lower bound (distinct grams − 3·maxEdits) and the length
    *     window as cheap pre-filters, levenshtein as the verifier —
    *     when the bound is vacuous (short terms) it falls back to the
    *     length-windowed dictionary scan, still |vocabulary|-sized at
    *     worst, never corpus-sized;
    *  2. the verified variant set (a handful of tokens by nature of
    *     edit distance) is collected and the postings scan prunes to
    *     THOSE tokens' buckets — the same literal-pruning contract as
    *     [[searchBm25]], with the per-variant edit distance baked in
    *     as a literal weight map. */
  def matchFuzzyFromTwin(spark: SparkSession, indexRoot: String,
                         twinRoot: String, term: String, k: Int,
                         maxEdits: Int = 2): DataFrame = {
    val sv = serving(spark, indexRoot)
    val idCol = sv.idCol
    val q = term.toLowerCase
    require(q.nonEmpty && !q.contains(" "),
      s"fuzzy match takes ONE term, got '$term' — use searchBm25 for " +
        "multi-term")
    val (tMeta, twinHead) = twinState(spark, twinRoot, "fz", "fuzzy",
      indexRoot)
    require(tMeta("fz.base").toLong == sv.head,
      s"$twinRoot reflects index version ${tMeta("fz.base")} but " +
        s"$indexRoot is at ${sv.head} — run refreshFuzzyTwin first")
    val grams = gramsOf(q)
    // each edit touches ≤3 padded grams, and a gram TYPE only goes
    // missing when all its instances are destroyed — so a true match
    // shares ≥ |distinct grams| − 3e types (distinct count, NOT |q|:
    // repeated grams would over-tighten the bound and drop matches)
    val minShared = grams.size - 3 * maxEdits
    // range form, not abs(): >=/<= on the stored len column push down
    // to the twin's parquet scan (abs() is not a pushable predicate)
    val lenOk = col("len") >= q.length - maxEdits &&
      col("len") <= q.length + maxEdits
    val twin = Manifest.read(spark, twinRoot, Some(twinHead))
    val candFrame =
      if (minShared > 0) {
        // gram-pruned: only the query's gram partitions are planned
        val gp = grams.map(g => (crc32Of(g) % GramBuckets).toInt).distinct
        twin.filter(col("gp").isin(gp: _*) &&
            col("gram").isin(grams: _*) && lenOk)
          .groupBy(col("token"))
          .agg(count(lit(1)).as("shared")) // (gram, token) rows distinct
          .filter(col("shared") >= minShared &&
            levenshtein(col("token"), lit(q)) <= maxEdits)
      } else {
        // bound vacuous for short terms: length-windowed dictionary
        // scan (|vocabulary| at worst — matchFuzzy would scan postings)
        twin.filter(lenOk).select(col("token")).distinct()
          .filter(levenshtein(col("token"), lit(q)) <= maxEdits)
      }
    // the verified variant set is edit-distance-bounded — a handful of
    // tokens; collecting it is what lets the postings scan prune to
    // literal buckets (the same driver-side routing searchBm25 does)
    val variants = candFrame.select(col("token")).collect()
      .map(_.getString(0)).toSeq.sorted
    if (variants.isEmpty)
      return Manifest.read(spark, indexRoot, Some(sv.head))
        .select(col(idCol), lit(0L).as("score"), lit(0L).as("matched"))
        .limit(0)
    val weights = variants.map(v =>
      (v, (maxEdits + 1 - levenshteinOf(v, q)).toLong)).toMap
    val wExpr = variants.foldLeft(lit(0L)) { (acc, v) =>
      when(col("token") === v, lit(weights(v))).otherwise(acc)
    }
    prunedPostings(spark, indexRoot, sv, variants)
      .groupBy(col(idCol))
      .agg(sum(col("tf") * wExpr).as("score"),
        count(lit(1)).as("matched"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** Driver-side Levenshtein — the SAME implementation Spark's
    * `levenshtein` expression runs on executors, so the collected
    * variants' weights cannot diverge from the scan-side filter. */
  private def levenshteinOf(a: String, b: String): Int =
    org.apache.spark.unsafe.types.UTF8String.fromString(a)
      .levenshteinDistance(
        org.apache.spark.unsafe.types.UTF8String.fromString(b))

  /** HYBRID RETRIEVAL SERVED FROM INDEXES — the deployment shape of
    * `Search.hybridRrf` (the OpenSearch `rrf` retriever really runs
    * against maintained indexes, not corpus scans): the sparse leg is
    * [[searchBm25]] (partition-pruned postings, header N/avgdl), the
    * dense leg is [[VectorIndex.search]] (pruned cells, optional
    * filtered-ANN predicate), and the fusion is the SAME
    * `Search.rrfFuse` over the two ≤kEach-row frames — so with
    * probe-all on the dense side the result is hash-equal to the
    * corpus-pass hybrid, while the plan touches only the query's term
    * buckets and probed cells. Query cost is O(term postings +
    * probed-cell vectors), independent of corpus size. */
  def hybridRrf(spark: SparkSession, indexRoot: String,
                vecIndexRoot: String, query: String,
                queryVec: Array[Double], k: Int, kEach: Int = 20,
                rrfK: Int = 60, nProbe: Int = Int.MaxValue,
                denseFilter: Option[org.apache.spark.sql.Column] = None)
      : DataFrame = {
    val idCol = state(spark, indexRoot)._1("idx.id")
    Search.rrfFuse(
      searchBm25(spark, indexRoot, query, kEach)
        .select(col(idCol), col("score")),
      VectorIndex.search(spark, vecIndexRoot, queryVec, kEach,
        nProbe, denseFilter),
      idCol, "id", idCol, k, rrfK)
  }

  /** Collection statistics — the `_cat/indices` analog, answered from
    * the delta-maintained commit header alone: zero data IO, no tasks.
    * One row: (docs, docs_with_text, total_tokens, avgdl, buckets,
    * base_version). */
  def stats(spark: SparkSession, indexRoot: String): DataFrame = {
    val (meta, _) = state(spark, indexRoot)
    val n = meta("idx.n").toLong
    val ndl = meta("idx.ndl").toLong
    val sumdl = meta("idx.sumdl").toLong
    import spark.implicits._
    Seq((n, ndl, sumdl,
        if (ndl == 0) 0.0 else sumdl.toDouble / ndl,
        meta("idx.buckets").toInt, meta("idx.base").toLong))
      .toDF("docs", "docs_with_text", "total_tokens", "avgdl",
        "buckets", "base_version")
  }
}
