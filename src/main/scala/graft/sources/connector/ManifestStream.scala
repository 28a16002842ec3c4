package graft.sources.connector

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.StructType

import graft.sources.Manifest

/** A stream offset IS a manifest version — the natural exactly-once
  * cursor: versions are dense, immutable and totally ordered, so
  * replaying a batch (vN, vM] plans the identical file set every
  * time. */
final case class VersionOffset(version: Long) extends Offset {
  override def json(): String = version.toString
}

/** Manifest tables as a STRUCTURED STREAMING SOURCE — the change-feed
  * reader that turns the lake's commit log into a stream (the public
  * pattern Delta's streaming source established):
  *
  * {{{
  *   spark.readStream.format("graft-manifest").load(root)
  *     .writeStream...  // each micro-batch = the files new commits added
  * }}}
  *
  * Semantics are FILE-level, matching [[Manifest.readChanges]]: an
  * append commit yields exactly the appended rows; a merge/delete
  * commit yields the post-image of every rewritten partition
  * (untouched partitions carry files by reference and never re-emit).
  * The first batch replays the table from version 0 — i.e. the whole
  * current snapshot — then each trigger consumes exactly the commits
  * that landed since, discovered by one cheap `latestVersion` listing.
  *
  * Exactly-once: offsets are versions (see [[VersionOffset]]);
  * Structured Streaming's checkpoint + the deterministic version→files
  * mapping make replays plan byte-identical batches. One operational
  * contract: [[Manifest.vacuum]]'s retention floor must cover the
  * stream's maximum downtime, or a restart from a dropped version
  * fails LOUDLY (no silent gaps — the manifest file is simply gone).
  *
  * Pruning composes: pushed partition filters, per-file zone maps and
  * column projection all apply to each batch's file set through the
  * same code paths as the batch scan. At 100 TB the incremental
  * consumer reads one commit's files per trigger, never the table.
  */
final class ManifestMicroBatchStream(
    res: ManifestConnector.Resolved,
    required: StructType,
    partitionFilters: Array[org.apache.spark.sql.sources.Filter],
    dataFilters: Array[org.apache.spark.sql.sources.Filter],
    readerFactory: PartitionReaderFactory,
    maxVersionsPerTrigger: Option[Long] = None,
    cdc: Boolean = false,
    startingVersion: Option[String] = None,
    startingTimestamp: Option[Long] = None)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  private def spark = SparkSession.active

  private def currentVersion: Long =
    Manifest.latestVersion(spark, res.root).getOrElse(0L)

  // Trigger.AvailableNow contract: freeze the catch-up target up front
  // so the run terminates even while writers keep committing
  @volatile private var availableNowCap: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(currentVersion)

  /** Where a FRESH stream starts (Spark consults this only when the
    * checkpoint is empty — restarts resume from the checkpoint and
    * never re-resolve). Default: version 0, i.e. replay the whole
    * table. `startingVersion` n = the first batch begins WITH commit
    * n (`"latest"` = only commits after the stream starts);
    * `startingTimestamp` = the first commit AT or AFTER that
    * epoch-millis. */
  override def initialOffset(): Offset = startingVersion match {
    case Some("latest") => VersionOffset(currentVersion)
    case Some(v) =>
      val n = v.toLong
      require(n >= 1 && n <= currentVersion + 1,
        s"startingVersion $n is outside ${res.root}'s committed " +
          s"range [1, $currentVersion]")
      VersionOffset(n - 1) // offsets are exclusive lower bounds
    case None => startingTimestamp match {
      case Some(ts) =>
        // newest version committed strictly BEFORE ts is the exclusive
        // bound; a ts before the first commit replays everything
        val lo = try Manifest.versionAt(spark, res.root, ts - 1)
          catch { case _: IllegalArgumentException => 0L }
        VersionOffset(lo)
      case None => VersionOffset(0L)
    }
  }

  override def latestOffset(): Offset = VersionOffset(currentVersion)

  /** Admission control: `.option("maxVersionsPerTrigger", n)` caps how
    * many COMMITS one micro-batch swallows — a stream restarting 1000
    * commits behind catches up in bounded, checkpointed steps instead
    * of one giant batch (the maxFilesPerTrigger idea, expressed in the
    * manifest's own currency). Unset = process all available. */
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val latest = availableNowCap.fold(currentVersion)(
      math.min(currentVersion, _))
    val lo = start.asInstanceOf[VersionOffset].version
    VersionOffset(maxVersionsPerTrigger
      .fold(latest)(n => math.min(latest, lo + n)))
  }

  override def reportLatestOffset(): Offset = VersionOffset(currentVersion)

  override def deserializeOffset(json: String): Offset =
    VersionOffset(json.toLong)

  override def commit(end: Offset): Unit = () // checkpoint is the state

  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset,
                                   end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[VersionOffset].version
    val hi = end.asInstanceOf[VersionOffset].version
    if (hi <= lo) return Array.empty
    val prev: Set[String] =
      if (lo == 0L) Set.empty
      else Manifest.snapshot(spark, res.root, lo).files.toSet
    val cur = Manifest.snapshotMeta(spark, res.root, hi)
    val crossing = cur.deletes.filter(d => d.seq > lo && d.seq <= hi)
    if (!cdc) {
      // a merge-on-read delete commit in range changes rows without
      // adding files — an append-shaped stream would silently miss the
      // retraction, so fail the query loudly (materialize with
      // rewriteDeletes, or restart with option("cdc","true") for a
      // retraction-aware feed)
      require(crossing.isEmpty,
        s"stream batch v$lo..v$hi of ${res.root} crosses merge-on-read " +
          s"delete commit(s) ${crossing.map(_.seq).distinct.sorted.mkString(",")}" +
          " — run Manifest.rewriteDeletes and restart the stream, or " +
          "read with option(\"cdc\", \"true\")")
      val added = ManifestConnector.resolved(res.root, cur,
        cur.entries.filterNot(e => prev.contains(e.path)), Nil)
      return ManifestConnector.keepFiles(added, added.files,
          partitionFilters ++ dataFilters, group = false)
        .map(f => ManifestInputPartition(f.absPath, f.size,
          f.partValues.toArray): InputPartition)
        .toArray
    }
    // CDC batch = [[Manifest.readChangesCdc]] semantics, streamed —
    // shared with the connector's batch changesFrom reads
    ManifestStreamHelpers.cdcInputPartitions(res, prev, cur, crossing)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    readerFactory

  override def toString: String =
    s"ManifestMicroBatchStream(${res.root})"
}

/** CDC partition planning shared by the streaming source and the
  * connector's batch `changesFrom` reads: added files re-emit their
  * rows as 'insert' stamped with the commit that added them; in-range
  * MoR delete commits emit their KEY files as 'delete' rows (key
  * columns read from the file, every other column NULL — partition
  * columns too unless they are keys, since a key file belongs to no
  * partition). The meta columns ride the input partitions as
  * constants, so the reader has no CDC mode. No manifest-level
  * pruning: CDC consumes no filters (a dropped retraction is
  * corruption; Spark filters the emitted rows). */
private[connector] object ManifestStreamHelpers {
  def cdcInputPartitions(res: ManifestConnector.Resolved,
      prevFiles: Set[String], cur: Manifest.SnapshotMeta,
      crossing: Seq[Manifest.DeleteEntry]): Array[InputPartition] = {
    def meta(kind: String, v: Long) = Array(
      "_change_type" -> kind, "_commit_version" -> v.toString)
    val inserts = cur.entries.filterNot(e => prevFiles.contains(e.path))
      .map(e => ManifestInputPartition(s"${res.root}/${e.path}",
        e.size,
        Manifest.partValuesOf(e.path).toArray ++
          meta("insert", e.dataSeq)): InputPartition)
    val deletes = crossing
      .map(d => ManifestInputPartition(s"${res.root}/${d.path}",
        d.size,
        meta("delete", d.seq)): InputPartition)
    (inserts ++ deletes).toArray
  }
}

/** Manifest tables as a NATIVE STRUCTURED STREAMING SINK —
  * `df.writeStream.format("graft-manifest").start(root)` — closing the
  * symmetry with the streaming source above (the reference's event
  * pipeline is symmetric too: S3 event in → indexed out,
  * reference: python-data-ingestions/lambda-function.py:247-275).
  *
  * Exactly-once without `foreachBatch`: executors stage each epoch's
  * parquet files ([[ManifestDataWriter]]) and report their entries;
  * the driver's `commit(epochId, ...)` publishes them as ONE atomic
  * manifest version carrying the `(queryId, epochId)` high-water mark
  * — a replayed epoch (restart inside the at-least-once window)
  * becomes a no-op and its staged files are deleted, so the table
  * never double-counts a micro-batch. The streaming query id is the
  * dedup key: it is stable across restarts (checkpoint metadata), and
  * distinct queries interleave commits freely.
  *
  * 100 TB posture: data never touches the driver — each task streams
  * rows to shared storage; the commit is O(epoch files) metadata. Many
  * small epochs → many small files is the expected steady state;
  * [[graft.sources.Manifest.compact]] + vacuum are the maintenance
  * loop, exactly as with the foreachBatch sink. */
final class ManifestStreamingWrite(res: ManifestConnector.Resolved,
    queryId: String,
    schema: org.apache.spark.sql.types.StructType,
    autoCompactEvery: Option[Long] = None)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  import org.apache.spark.sql.connector.write.{PhysicalWriteInfo, WriterCommitMessage}
  import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory

  private def spark = SparkSession.active

  // one staging-dir family per write lifecycle; the per-epoch suffix
  // comes from createWriter(epochId), so restarts can never collide
  private val salt = java.util.UUID.randomUUID().toString.take(8)

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : StreamingDataWriterFactory =
    ManifestWriterFactory(spark, res.root, s"s$salt", schema, res.partCols)

  override def commit(epochId: Long,
                      messages: Array[WriterCommitMessage]): Unit = {
    val entries = ManifestWriteMessage.entriesOf(messages)
    // a concurrent BATCH committer racing the sink loses us only the
    // version claim, not data — commitStreamEntries re-reads latest on
    // every attempt (and the high-water mark still dedups), so a few
    // bounded retries ride out interleaved writers instead of failing
    // the whole streaming query
    var attempt = 0
    var committed: Option[Option[Long]] = None
    while (committed.isEmpty) {
      try committed = Some(Manifest.commitStreamEntries(spark, res.root,
        entries, schema, res.partCols, queryId, epochId))
      catch {
        // both faces of the same concurrent-writer race: losing the
        // version claim, and reading the winner's manifest mid-write
        // (the torn-read fence says "retry" explicitly)
        case e: IllegalStateException
            if Option(e.getMessage).exists(_.contains("commit conflict")) && attempt < 3 =>
          attempt += 1; Manifest.raceBackoff(attempt)
        case e: IllegalArgumentException
            if Option(e.getMessage).exists(_.contains("torn manifest read")) && attempt < 3 =>
          attempt += 1; Manifest.raceBackoff(attempt)
      }
    }
    if (committed.get.isEmpty) // replayed epoch
      ManifestWriter.deleteStaged(spark, res.root, entries)
    // the maintenance loop riding the very sink that creates the
    // small-files steady state: every N committed versions, bin-pack
    // (`.option("autoCompactEvery", n)`). BEST-EFFORT — a compaction
    // losing a race with a concurrent committer skips this cycle
    // rather than failing the streaming query; the next multiple
    // retries. Vacuum stays a deliberate, user-owned policy call.
    for (n <- autoCompactEvery; v <- committed.get)
      if (v % n == 0)
        try Manifest.compact(spark, res.root)
        catch {
          // both faces of the concurrent-writer race (see the commit
          // retry loop above): skip the cycle, never fail the query
          case e: IllegalStateException
              if Option(e.getMessage).exists(_.contains("commit conflict")) => ()
          case e: IllegalArgumentException
              if Option(e.getMessage).exists(_.contains("torn manifest read")) => ()
        }
  }

  override def abort(epochId: Long,
                     messages: Array[WriterCommitMessage]): Unit =
    ManifestWriter.deleteStaged(spark, res.root,
      ManifestWriteMessage.entriesOf(messages))

  override def toString: String = s"ManifestStreamingWrite(${res.root})"
}
