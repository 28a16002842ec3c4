package graft.sources

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained INNER EQUI-JOIN view over two manifest
  * tables — the second classic "never recompute at 100 TB" shape next
  * to [[MaterializedAgg]]: `fact ⋈ dim` kept fresh after each ingest
  * without re-joining the full tables.
  *
  * ALGEBRA — for append-only advances on either side, the join delta
  * is exact bag arithmetic:
  *
  * {{{ (L+ΔL) ⋈ (R+ΔR) = L⋈R  +  ΔL ⋈ (R+ΔR)  +  L ⋈ ΔR }}}
  *
  * so a refresh appends `ΔL ⋈ R_head` plus `L_base ⋈ ΔR` — the ΔL⋈ΔR
  * cross term rides the first join (which uses the head right side)
  * and the second join uses the BASE left side, so nothing is counted
  * twice, duplicate keys and all. Cost: each term scans one side's
  * DELTA against the other side ONCE (column-pruned, and the big side
  * is read through the V2 connector so a selective delta triggers
  * runtime file pruning — zone maps AND bloom sidecars — on the join
  * key); never the old join output, never both full tables.
  *
  * The view is itself a manifest table (time travel, atomic commits,
  * snapshot isolation), partitioned by a hash bucket of the join key;
  * its commit header carries BOTH reflected source versions, so the
  * refresh bases advance atomically with the delta append — no gap in
  * which a crash double-applies.
  *
  * Falls back to a FULL recompute ([[Manifest.commitReplace]]) when
  * the incremental contract breaks on either side: rewritten/removed
  * files, pending merge-on-read deletes (row-level retractions are
  * invisible to a file diff), or a vacuumed-away base. Never silently
  * wrong. */
object MaterializedJoin {

  private val BucketCol = "mvj_bucket"

  private def withBucket(df: DataFrame, keys: Seq[String],
                         buckets: Int): DataFrame =
    df.withColumn(BucketCol,
      pmod(xxhash64(keys.map(col): _*), lit(buckets)).cast("int"))

  /** Version-pinned read of a source through the V2 connector: runtime
    * file pruning on the join key lets a selective delta prune the big
    * side's files via zone maps and bloom sidecars. */
  private def readPinned(spark: SparkSession, root: String,
                         v: Long): DataFrame =
    spark.read.format("graft-manifest").option("version", v.toString)
      .load(root)

  private def joined(spark: SparkSession, left: DataFrame,
                     right: DataFrame, keys: Seq[String],
                     buckets: Int): DataFrame =
    withBucket(left.join(right, keys), keys, buckets)

  private def stateMeta(leftRoot: String, rightRoot: String,
                        keys: Seq[String], buckets: Int,
                        lBase: Long, rBase: Long): Map[String, String] =
    Map("mvj.left" -> leftRoot, "mvj.right" -> rightRoot,
      "mvj.keys" -> keys.mkString(","),
      "mvj.buckets" -> buckets.toString,
      "mvj.lbase" -> lBase.toString, "mvj.rbase" -> rBase.toString)

  /** Materialize `left ⋈ right` on `keys` (same column names on both
    * sides; non-key column names must not collide — qualify upstream).
    * The create pays the one full join this view exists to avoid
    * re-paying. */
  def create(spark: SparkSession, leftRoot: String, rightRoot: String,
             mvRoot: String, keys: Seq[String],
             buckets: Int = 64): Long = {
    require(keys.nonEmpty, "need at least one join key")
    require(buckets >= 1, "buckets must be >= 1")
    val lHead = Manifest.latestVersion(spark, leftRoot).getOrElse(
      throw new IllegalStateException(s"$leftRoot not initialized"))
    val rHead = Manifest.latestVersion(spark, rightRoot).getOrElse(
      throw new IllegalStateException(s"$rightRoot not initialized"))
    val l = readPinned(spark, leftRoot, lHead)
    val r = readPinned(spark, rightRoot, rHead)
    keys.foreach { k =>
      require(l.columns.contains(k) && r.columns.contains(k),
        s"join key '$k' must exist on both sides")
    }
    val overlap = (l.columns.toSet & r.columns.toSet) -- keys.toSet
    require(overlap.isEmpty,
      s"non-key columns collide across sides: $overlap — alias them " +
        "apart before materializing")
    Manifest.init(spark, mvRoot,
      joined(spark, l, r, keys, buckets), Seq(BucketCol),
      extraMeta = stateMeta(leftRoot, rightRoot, keys, buckets,
        lHead, rHead))
  }

  private def state(spark: SparkSession, mvRoot: String)
      : (Map[String, String], Long) = {
    val mvHead = Manifest.latestVersion(spark, mvRoot).getOrElse(
      throw new IllegalStateException(s"$mvRoot not initialized"))
    val meta = Manifest.snapshotMeta(spark, mvRoot, mvHead).meta
    require(meta.contains("mvj.left"),
      s"$mvRoot is not a materialized join (no mvj.left header)")
    (meta, mvHead)
  }

  /** (left version, right version) the view currently reflects. */
  def bases(spark: SparkSession, mvRoot: String): (Long, Long) = {
    val (meta, _) = state(spark, mvRoot)
    (meta("mvj.lbase").toLong, meta("mvj.rbase").toLong)
  }

  /** The view's contents (internal bucket column dropped). */
  def read(spark: SparkSession, mvRoot: String): DataFrame =
    Manifest.read(spark, mvRoot).drop(BucketCol)

  /** Is the advance `base → head` of `root` a pure append (and both
    * snapshots still resolvable)? Returns the added file set. */
  private def appendDiff(spark: SparkSession, root: String,
                         base: Long, head: Long): Option[Set[String]] =
    if (head == base) Some(Set.empty)
    else if (head < base ||
      !Manifest.versions(spark, root).contains(base)) None
    else {
      val baseSnap = Manifest.snapshotMeta(spark, root, base)
      val headSnap = Manifest.snapshotMeta(spark, root, head)
      if (baseSnap.deletes.nonEmpty || headSnap.deletes.nonEmpty) None
      else {
        val ch = Manifest.changedFiles(spark, root, base, head)
        if (ch.removed.isEmpty) Some(ch.added.toSet) else None
      }
    }

  /** Advance the view to both sources' heads. Three tiers, cheapest
    * first:
    *
    *  1. both advances pure appends → TWO delta joins appended in ONE
    *     commit (the common ingest case);
    *  2. appends interleaved with merge-on-read deletes KEYED ON THE
    *     JOIN KEYS → per-commit replay: each source append joins
    *     against the other side's pinned snapshot, each source delete
    *     propagates as a merge-on-read delete of the SAME keys on the
    *     view (a view row for key k exists iff both sides hold k, so
    *     erasing k from either side erases exactly the view's k rows —
    *     O(deleted keys), no data rewrite). Left commits replay
    *     against R_base, then right commits against L_head; induction
    *     gives exactly `L_head ⋈ R_head` in bag semantics. Every
    *     replayed step is its own atomic view commit carrying the
    *     advanced base, so a crash leaves a consistent prefix the next
    *     refresh resumes from;
    *  3. anything else (rewrites, replaces, compaction, deletes on
    *     non-join keys, vacuumed bases) → full recompute. Never
    *     silently wrong.
    *
    * Returns the view's new version (unchanged when neither source
    * moved). */
  def refresh(spark: SparkSession, mvRoot: String): Long = {
    val (meta, mvHead) = state(spark, mvRoot)
    val leftRoot = meta("mvj.left"); val rightRoot = meta("mvj.right")
    val keys = meta("mvj.keys").split(',').toSeq
    val buckets = meta("mvj.buckets").toInt
    val lBase = meta("mvj.lbase").toLong
    val rBase = meta("mvj.rbase").toLong
    val lHead = Manifest.latestVersion(spark, leftRoot).getOrElse(
      throw new IllegalStateException(s"$leftRoot not initialized"))
    val rHead = Manifest.latestVersion(spark, rightRoot).getOrElse(
      throw new IllegalStateException(s"$rightRoot not initialized"))
    if (lHead == lBase && rHead == rBase) return mvHead

    def full(): Long =
      Manifest.commitReplace(spark, mvRoot,
        joined(spark, readPinned(spark, leftRoot, lHead),
          readPinned(spark, rightRoot, rHead), keys, buckets),
        Seq(BucketCol),
        extraMeta = stateMeta(leftRoot, rightRoot, keys, buckets,
          lHead, rHead))

    (appendDiff(spark, leftRoot, lBase, lHead),
      appendDiff(spark, rightRoot, rBase, rHead)) match {
      case (Some(lAdded), Some(rAdded)) =>
        val terms = Seq(
          // ΔL ⋈ R_head — carries the ΔL⋈ΔR cross term
          if (lAdded.isEmpty) None
          else Some(Manifest.readSubset(spark, leftRoot, lHead, lAdded)
            .join(readPinned(spark, rightRoot, rHead), keys)),
          // L_base ⋈ ΔR — the base left, so nothing counts twice
          if (rAdded.isEmpty) None
          else Some(readPinned(spark, leftRoot, lBase)
            .join(Manifest.readSubset(spark, rightRoot, rHead, rAdded),
              keys))
        ).flatten
        val delta = terms.reduce(_.unionByName(_))
        Manifest.commitAppend(spark, mvRoot,
          withBucket(delta, keys, buckets), Seq(BucketCol),
          extraMeta = Map("mvj.lbase" -> lHead.toString,
            "mvj.rbase" -> rHead.toString))
      case _ =>
        (replayPlan(spark, leftRoot, lBase, lHead, keys),
          replayPlan(spark, rightRoot, rBase, rHead, keys)) match {
          case (Some(ls), Some(rs)) =>
            try replay(spark, mvRoot, leftRoot, rightRoot, keys,
              buckets, ls, rs, lHead, rHead, rBase)
            catch { case NonFatal(_) => full() } // e.g. reclaimed files
          case _ => full()
        }
    }
  }

  // ---- per-commit replay (tier 2) ----------------------------------

  /** Classify one source's commits in `(base, head]` for replay via
    * [[Manifest.commitSteps]]: pure appends, and merge-on-read deletes
    * whose key columns are exactly the join keys. None → not
    * replayable (fall back to a full rebuild). */
  private def replayPlan(spark: SparkSession, root: String, base: Long,
                         head: Long, keys: Seq[String])
      : Option[Seq[Manifest.CommitStep]] = {
    if (head == base) return Some(Nil)
    if (head < base) return None
    Manifest.commitSteps(spark, root, base, head).filter(_.forall {
      case Manifest.DeleteStep(_, _, kc, _) => kc.toSet == keys.toSet
      case _ => true
    })
  }

  /** Apply the two sides' replay plans: left commits against the
    * pinned `R_base`, then right commits against the pinned `L_head`.
    * Each step is one atomic view commit whose header advances that
    * side's base; a trailing metadata-only commit covers plans whose
    * last source commits changed nothing joinable. */
  private def replay(spark: SparkSession, mvRoot: String,
                     leftRoot: String, rightRoot: String,
                     keys: Seq[String], buckets: Int,
                     ls: Seq[Manifest.CommitStep],
                     rs: Seq[Manifest.CommitStep],
                     lHead: Long, rHead: Long, rBase: Long): Long = {
    def applySide(steps: Seq[Manifest.CommitStep], srcRoot: String,
                  baseKey: String, joinTo: => DataFrame,
                  srcIsLeft: Boolean): Unit =
      steps.foreach {
        case Manifest.AppendStep(v, added) =>
          val delta = Manifest.readSubset(spark, srcRoot, v, added)
          val j =
            if (srcIsLeft) delta.join(joinTo, keys)
            else joinTo.join(delta, keys)
          Manifest.commitAppend(spark, mvRoot,
            withBucket(j, keys, buckets), Seq(BucketCol),
            extraMeta = Map(baseKey -> v.toString))
        case Manifest.DeleteStep(_, v, _, paths) =>
          val delKeys = spark.read.parquet(
            paths.map(p => Manifest.absEntryPath(srcRoot, p)): _*)
            .select(keys.map(col): _*).distinct()
          Manifest.deleteByKeys(spark, mvRoot, delKeys,
            extraMeta = Map(baseKey -> v.toString))
      }
    applySide(ls, leftRoot, "mvj.lbase",
      readPinned(spark, rightRoot, rBase), srcIsLeft = true)
    applySide(rs, rightRoot, "mvj.rbase",
      readPinned(spark, leftRoot, lHead), srcIsLeft = false)
    // bases can lag the heads when trailing source commits emitted no
    // step (metadata-only commits) — settle them in one header commit
    val cur = Manifest.latestVersion(spark, mvRoot).get
    val m = Manifest.snapshotMeta(spark, mvRoot, cur)
    if (m.meta("mvj.lbase").toLong != lHead ||
      m.meta("mvj.rbase").toLong != rHead)
      Manifest.publish(spark, mvRoot, cur, m.entries,
        m.meta ++ Map("mvj.lbase" -> lHead.toString,
          "mvj.rbase" -> rHead.toString), m.deletes)
    else cur
  }
}
