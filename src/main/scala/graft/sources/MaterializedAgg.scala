package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained grouped aggregates over a manifest table —
  * the "corpus composition dashboard" every training pipeline keeps:
  * `SELECT lang, source, count(*), sum(n_tokens) GROUP BY lang, source`
  * refreshed after each ingest without rescanning 100 TB.
  *
  * Groups may be EXPRESSIONS (`derived` — e.g. a histogram bucket) and
  * the view may cover only rows passing a deterministic `where`
  * predicate; both persist in the header and re-apply identically on
  * every refresh path, which is what lets a drift monitor's
  * |sources|×|buckets| histogram (q233/q246's gate reference) live as
  * a maintained view instead of a per-invocation corpus scan.
  *
  * The view is itself a manifest table (time travel, atomic commits and
  * concurrent-reader isolation come for free), partitioned by a hash
  * bucket of the group key so a refresh rewrites only the buckets
  * holding changed groups. Its commit header carries the maintenance
  * state (`mv.base` = the source version the contents reflect, plus the
  * spec), so the refresh base advances ATOMICALLY with the merge commit
  * — a crash between "apply delta" and "record base" cannot double-count
  * because there is no such gap.
  *
  * REFRESH COST ∝ CHANGES, not table size: the delta is computed from
  * the file-level diff between the base and head snapshots — added
  * files' rows count +1, removed files' rows count −1 (copy-on-write
  * rewrites re-list untouched rows on both sides; they cancel exactly).
  * Count and sum are the distributive aggregates this closes over
  * (avg = sum/count at read; min/max are NOT maintainable from deltas
  * — a removed max needs a rescan — and are deliberately absent).
  *
  * MERGE-ON-READ DELETES also maintain incrementally: when the version
  * range holds only appends and keyed MoR deletes, a per-commit replay
  * retracts each delete's rows by reading the snapshot JUST BEFORE it
  * semi-joined to the delete keys (the connector read runtime-prunes
  * that scan to the keys' home files via zone maps / bloom sidecars —
  * cost ∝ erased rows' files, not the table), folded in with sign −1
  * through the same partial-merge primitive; every replayed step is
  * its own atomic commit carrying the advanced base, so a crash leaves
  * a consistent resumable prefix.
  *
  * Falls back to a FULL recompute (one [[Manifest.commitReplace]]) when
  * neither contract holds: rewrites interleaved with pending deletes,
  * a commit mixing delete key sets, a vacuumed-away base snapshot, or
  * removed files already reclaimed.
  *
  * NULL sums: a maintained sum whose group ever held non-null values
  * tracks the recompute exactly; a group whose values are ALL null
  * surfaces sum NULL on create and on the all-null refresh edge, same
  * as a recompute. */
object MaterializedAgg {

  private val KeyCol = "mv_key"
  private val BucketCol = "mv_bucket"
  private val CountCol = "mv_count"
  private def sumCol(c: String) = s"sum_$c"
  // hidden per-sum non-null counter: the NULL-ness oracle. sum over a
  // group is NULL iff the group holds zero non-null values, and that
  // fact is delta-maintainable even though the sum's null-ness alone
  // is not (old 5 + delta −5 could be "empty" or "two rows netting 0")
  private def nnCol(c: String) = s"nn_$c"

  /** Deterministic, null-safe, SESSION-INDEPENDENT group key: md5 of
    * the canonical JSON of the group tuple (field order = spec order).
    * Timestamp members hash their epoch micros, never their rendered
    * string — to_json renders timestamps in the session timezone, and
    * a refresh run under a different zone would miss every stored key. */
  private def withKey(df: DataFrame, groupCols: Seq[String],
                      buckets: Int): DataFrame = {
    val canon = groupCols.map { c =>
      df.schema(c).dataType match {
        case org.apache.spark.sql.types.TimestampType =>
          unix_micros(col(c)).as(c)
        case _ => col(c)
      }
    }
    df.withColumn(KeyCol, md5(to_json(struct(canon: _*))))
      .withColumn(BucketCol,
        pmod(crc32(col(KeyCol)), lit(buckets.toLong)).cast("int"))
  }

  private def aggregateOf(df: DataFrame, groupCols: Seq[String],
                          sumCols: Seq[String],
                          buckets: Int): DataFrame = {
    val aggs = count(lit(1)).as(CountCol) +:
      (sumCols.map(c => sum(col(c)).as(sumCol(c))) ++
        sumCols.map(c => count(col(c)).as(nnCol(c))))
    withKey(df.groupBy(groupCols.map(col): _*).agg(aggs.head,
      aggs.tail: _*), groupCols, buckets)
  }

  // ---- derived group columns + row predicate --------------------
  // The view may group by EXPRESSIONS over the source (a histogram
  // bucket, a date truncation) and maintain only rows passing a
  // predicate — both persisted in the header (base64url so arbitrary
  // SQL text survives the comma-separated meta conventions) and
  // re-applied identically on every refresh path. Deterministic
  // expressions only (the contract every maintained aggregate already
  // has: a nondeterministic expr would make replay diverge).

  private def b64(s: String): String =
    java.util.Base64.getUrlEncoder.withoutPadding
      .encodeToString(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  private def unb64(s: String): String =
    new String(java.util.Base64.getUrlDecoder.decode(s),
      java.nio.charset.StandardCharsets.UTF_8)

  /** Apply the persisted predicate, then stamp the derived columns —
    * the ONE projection every path (create, full recompute, file-diff
    * delta, per-commit replay) routes source rows through. */
  private def project(df: DataFrame, derived: Seq[(String, String)],
                      where: Option[String]): DataFrame = {
    val f = where.fold(df)(w => df.filter(expr(w)))
    derived.foldLeft(f) { case (d, (n, e)) => d.withColumn(n, expr(e)) }
  }

  private def derivedOf(meta: Map[String, String])
      : (Seq[(String, String)], Option[String]) = (
    meta.get("mv.derived").filter(_.nonEmpty).fold(
      Seq.empty[(String, String)])(_.split(",").toSeq.map { p =>
        val a = p.split("\\.")
        (unb64(a(0)), unb64(a(1)))
      }),
    meta.get("mv.where").map(unb64))

  private def stateMeta(srcRoot: String, groupCols: Seq[String],
                        sumCols: Seq[String], buckets: Int,
                        base: Long,
                        derived: Seq[(String, String)],
                        where: Option[String]): Map[String, String] = {
    val reserved = Set(KeyCol, BucketCol, CountCol, "count")
    (groupCols ++ sumCols ++ derived.map(_._1)).foreach { c =>
      require(!c.contains(",") && !c.contains("\n"),
        s"materialized-agg column name '$c' must not contain ','")
      // internal alias namespaces (mv_*, sum_*, nn_*, d_*, __old_*)
      // would collide with the refresh plan's columns — fail at CREATE,
      // not on the first refresh
      require(!reserved(c) &&
          !Seq("mv_", "sum_", "nn_", "d_", "__old_").exists(c.startsWith),
        s"materialized-agg column name '$c' collides with the view's " +
          "internal columns (mv_*/sum_*/nn_*/d_*/__old_*/count)")
    }
    require(derived.map(_._1).distinct.size == derived.size,
      "derived column names must be distinct")
    Map("mv.base" -> base.toString, "mv.src" -> srcRoot,
      "mv.group" -> groupCols.mkString(","),
      "mv.sum" -> sumCols.mkString(","),
      "mv.buckets" -> buckets.toString) ++
      (if (derived.isEmpty) Map.empty
       else Map("mv.derived" -> derived.map { case (n, e) =>
         s"${b64(n)}.${b64(e)}" }.mkString(","))) ++
      where.map(w => "mv.where" -> b64(w))
  }

  /** Create the view at the source's current version (one full
    * aggregate — the last full scan this view ever needs).
    *
    * `derived` = (name, deterministic SQL expr) columns stamped on the
    * source rows BEFORE grouping (so `groupCols` may name them — e.g.
    * a histogram bucket); `where` = a deterministic SQL predicate
    * filtering which rows the view aggregates. Both persist in the
    * header and re-apply identically on every refresh path. */
  def create(spark: SparkSession, srcRoot: String, mvRoot: String,
             groupCols: Seq[String], sumCols: Seq[String],
             buckets: Int = 64,
             derived: Seq[(String, String)] = Nil,
             where: Option[String] = None): Long = {
    require(groupCols.nonEmpty, "need at least one group column")
    require(buckets >= 1, "buckets must be >= 1")
    val head = Manifest.latestVersion(spark, srcRoot).getOrElse(
      throw new IllegalStateException(s"$srcRoot not initialized"))
    val result = aggregateOf(
      project(Manifest.read(spark, srcRoot, Some(head)), derived, where),
      groupCols, sumCols, buckets)
    Manifest.init(spark, mvRoot, result, Seq(BucketCol),
      extraMeta = stateMeta(srcRoot, groupCols, sumCols, buckets, head,
        derived, where))
  }

  /** The source version the view currently reflects. */
  def baseVersion(spark: SparkSession, mvRoot: String): Long =
    state(spark, mvRoot)._1("mv.base").toLong

  private def state(spark: SparkSession, mvRoot: String)
      : (Map[String, String], Long) = {
    val mvHead = Manifest.latestVersion(spark, mvRoot).getOrElse(
      throw new IllegalStateException(s"$mvRoot not initialized"))
    val meta = Manifest.snapshotMeta(spark, mvRoot, mvHead).meta
    require(meta.contains("mv.base"),
      s"$mvRoot is not a materialized aggregate (no mv.base header)")
    (meta, mvHead)
  }

  /** The view's contents (groups with zero surviving rows are
    * tombstoned in storage and hidden here; internal key/bucket and
    * non-null-counter columns are dropped). */
  def read(spark: SparkSession, mvRoot: String): DataFrame = {
    val (meta, _) = state(spark, mvRoot)
    val sumCols = meta("mv.sum").split(',').toSeq.filter(_.nonEmpty)
    Manifest.read(spark, mvRoot).filter(col(CountCol) > 0L)
      .drop(KeyCol +: BucketCol +: sumCols.map(nnCol): _*)
  }

  /** Advance the view to the source's current version. Incremental
    * when the file-diff contract holds (cost ∝ changed files), full
    * recompute otherwise. Returns the view's new version (unchanged
    * when the source hasn't moved). */
  def refresh(spark: SparkSession, srcRoot: String,
              mvRoot: String): Long = {
    val (meta, mvHead) = state(spark, mvRoot)
    require(meta("mv.src") == srcRoot,
      s"$mvRoot materializes ${meta("mv.src")}, not $srcRoot — " +
        "refreshing against a different table would corrupt the view")
    val base = meta("mv.base").toLong
    val groupCols = meta("mv.group").split(',').toSeq
    val sumCols = meta("mv.sum").split(',').toSeq.filter(_.nonEmpty)
    val buckets = meta("mv.buckets").toInt
    val (derived, where) = derivedOf(meta)
    val srcHead = Manifest.latestVersion(spark, srcRoot).getOrElse(
      throw new IllegalStateException(s"$srcRoot not initialized"))
    if (srcHead == base) return mvHead
    require(srcHead > base,
      s"$srcRoot is at v$srcHead but the view reflects v$base — " +
        "the source table was replaced; recreate the view")

    def full(): Long =
      Manifest.commitReplace(spark, mvRoot,
        aggregateOf(
          project(Manifest.read(spark, srcRoot, Some(srcHead)),
            derived, where),
          groupCols, sumCols, buckets),
        Seq(BucketCol),
        extraMeta = stateMeta(srcRoot, groupCols, sumCols, buckets,
          srcHead, derived, where))

    // incremental contract: both snapshots resolvable, no pending
    // merge-on-read deletes at either end (row-level retractions are
    // invisible to a file diff), removed files still on disk
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
          else None // vacuum got there first
        }
      }

    plan match {
      case Some((added, removed)) =>
        val plus = project(
            Manifest.readSubset(spark, srcRoot, srcHead, added),
            derived, where)
          .withColumn("__sign", lit(1L))
        val changes =
          if (removed.isEmpty) plus
          else plus.unionByName(
            project(Manifest.readSubset(spark, srcRoot, base, removed),
              derived, where)
              .withColumn("__sign", lit(-1L)),
            allowMissingColumns = true)
        applyDelta(spark, mvRoot, changes, groupCols, sumCols,
          buckets, srcHead)
      case None =>
        Manifest.commitSteps(spark, srcRoot, base, srcHead) match {
          case Some(steps) =>
            try {
              steps.foreach {
                case Manifest.AppendStep(v, added) =>
                  applyDelta(spark, mvRoot,
                    project(
                      Manifest.readSubset(spark, srcRoot, v, added),
                      derived, where)
                      .withColumn("__sign", lit(1L)),
                    groupCols, sumCols, buckets, v)
                case Manifest.DeleteStep(vPre, v, kc, paths) =>
                  val keys = spark.read.parquet(paths.map(p =>
                    Manifest.absEntryPath(srcRoot, p)): _*)
                    .select(kc.map(col): _*).distinct()
                  // rows VISIBLE just before the delete run matching
                  // its keys = exactly the erased rows (earlier
                  // deletes and later-append seq exemptions already
                  // applied by the read); the connector path
                  // runtime-prunes the scan to the keys' home files
                  // via zone maps / bloom sidecars
                  val visible = spark.read.format("graft-manifest")
                    .option("version", vPre.toString).load(srcRoot)
                  // project AFTER the semi-join: the delete keys are
                  // raw source columns the predicate may filter away
                  val minus = project(
                    visible.join(broadcast(keys),
                      kc.map(c => visible(c) <=> keys(c)).reduce(_ && _),
                      "left_semi"),
                    derived, where).withColumn("__sign", lit(-1L))
                  applyDelta(spark, mvRoot, minus, groupCols, sumCols,
                    buckets, v)
              }
              // trailing metadata-only source commits: settle the base
              val cur = Manifest.latestVersion(spark, mvRoot).get
              val m = Manifest.snapshotMeta(spark, mvRoot, cur)
              if (m.meta("mv.base").toLong != srcHead)
                Manifest.publish(spark, mvRoot, cur, m.entries,
                  m.meta + ("mv.base" -> srcHead.toString), m.deletes)
              else cur
            } catch {
              case scala.util.control.NonFatal(_) => full()
            }
          case None => full()
        }
    }
  }

  /** Fold one batch of signed row changes (`__sign` = +1 added /
    * −1 removed) into the stored partials and commit with the advanced
    * base — the ONE maintenance primitive both the file-diff path and
    * the per-commit replay path share. */
  private def applyDelta(spark: SparkSession, mvRoot: String,
                         changes: DataFrame, groupCols: Seq[String],
                         sumCols: Seq[String], buckets: Int,
                         newBase: Long): Long = {
    val sign = col("__sign")
    val deltaAggs = sum(sign).as("d_count") +:
      (sumCols.map(c => sum(col(c) * sign).as(s"d_s_$c")) ++
        sumCols.map(c => sum(when(col(c).isNotNull, sign)
          .otherwise(lit(0L))).as(s"d_n_$c")))
    val delta = withKey(
      changes.groupBy(groupCols.map(col): _*)
        .agg(deltaAggs.head, deltaAggs.tail: _*),
      groupCols, buckets)
    val mvHead = Manifest.latestVersion(spark, mvRoot).get
    val stored = Manifest.read(spark, mvRoot, Some(mvHead))
      .select(col(KeyCol) +: col(CountCol).as("__old_count") +:
        (sumCols.map(c => col(sumCol(c)).as(s"__old_s_$c")) ++
          sumCols.map(c => col(nnCol(c)).as(s"__old_n_$c"))): _*)
    // persist(): mergeInto evaluates its updates twice (the runtime
    // group filter's semi-join, then the MERGE join) — without the
    // cache this whole subtree (changes agg + stored-view read + join)
    // re-runs per consumer. The frame is touched-GROUP-sized, bounded at any
    // corpus size, so caching it is free; unpersist once committed.
    val updates = delta.join(stored, Seq(KeyCol), "left")
      .select(
        groupCols.map(col) ++
          Seq((coalesce(col("__old_count"), lit(0L)) +
            col("d_count")).as(CountCol)) ++
          sumCols.flatMap { c =>
            val os = col(s"__old_s_$c")
            val ds = col(s"d_s_$c")
            val nn = coalesce(col(s"__old_n_$c"), lit(0L)) +
              coalesce(col(s"d_n_$c"), lit(0L))
            Seq(
              // the non-null counter decides NULL-ness exactly as
              // a recompute would: zero non-null values → NULL sum
              // (removing a group's last non-null row must not
              // leave a spurious 0 behind)
              when(nn === 0L, lit(null))
                .otherwise(coalesce(os, lit(0)) + coalesce(ds, lit(0)))
                .as(sumCol(c)),
              nn.as(nnCol(c)))
          } ++ Seq(col(KeyCol), col(BucketCol)): _*)
      .persist()
    try
      Manifest.mergeInto(spark, mvRoot, updates, KeyCol,
        Seq(BucketCol),
        extraMeta = Map("mv.base" -> newBase.toString))
    finally updates.unpersist()
  }

}
