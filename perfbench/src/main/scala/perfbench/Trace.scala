package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Traced-run instrumentation. Off by default: every entry point is a
  * no-op (one volatile read) unless [[Trace.start]] ran.
  *
  *  - spans `{name, start, end, parent, op}` around each call the
  *    harness makes into a layer, kept in memory;
  *  - a [[SparkListener]] recording every job's interval and every
  *    task's run/GC/IO/shuffle/spill figures;
  *  - a [[QueryExecutionListener]] reading the planning tracker's
  *    phases (analysis, optimization, planning) of each action;
  *  - Janino compile counts from `CodegenMetrics`, read at op
  *    boundaries.
  *
  * Spark events arrive on the listener bus after the fact, so they are
  * attributed to the op whose interval holds their timestamp (one
  * client thread runs ops back to back, so the intervals are disjoint).
  */
object Trace {
  final case class Span(id: Int, name: String, start: Long, end: Long,
                        parent: Int, op: Int)
  final case class Job(start: Long, end: Long)
  final case class Op(id: Int, kind: String, start: Long, end: Long,
                      compiles: Long, compileMs: Double)
  final class Tasks {
    var n = 0L; var runMs = 0L; var gcMs = 0L; var input = 0L
    var shuffle = 0L; var spill = 0L
  }

  @volatile private var on = false
  private val lock = new Object
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val ops = mutable.ArrayBuffer.empty[Op]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val taskEnds = mutable.ArrayBuffer.empty[(Long, Array[Long])]
  private val planPhases = mutable.ArrayBuffer.empty[(Long, Long)]
  private var nextId = 0
  @volatile private var curOp = -1
  /** innermost open span of the client thread (the one running ops) */
  @volatile private var clientTop = -1
  @volatile private var clientThread: Thread = null
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }

  def enabled: Boolean = on

  /** Layer spans reported as `<name>_ms` (inclusive busy ms summed
    * over the timed loop). */
  val SpanLayers: Seq[String] = Seq("manifest.read", "manifest.append",
    "manifest.merge", "manifest.delete", "manifest.compact",
    "manifest.vacuum", "manifest.stream_commit", "connector.sql_read",
    "search_index.bm25_call", "search_index.bm25_collect",
    "search_index.refresh", "vector_index.search_call",
    "vector_index.search_collect", "vector_index.refresh", "ivfpq.search",
    "prefix_ledger.probe", "prefix_ledger.commit_wave", "dedup.admit")

  def start(spark: SparkSession): Unit = {
    on = true
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        lock.synchronized { jobStart(e.jobId) = e.time }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        lock.synchronized {
          jobStart.remove(e.jobId).foreach(s => jobs += Job(s, e.time))
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) lock.synchronized {
          taskEnds += ((e.taskInfo.finishTime, Array(m.executorRunTime,
            m.jvmGCTime, m.inputMetrics.bytesRead,
            m.shuffleReadMetrics.totalBytesRead +
              m.shuffleWriteMetrics.bytesWritten,
            m.memoryBytesSpilled + m.diskBytesSpilled)))
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        phases(qe)
      override def onFailure(f: String, qe: QueryExecution,
                             e: Exception): Unit = phases(qe)
      private def phases(qe: QueryExecution): Unit = {
        val ps = qe.tracker.phases.values
        if (ps.nonEmpty) lock.synchronized {
          planPhases += ((ps.map(_.startTimeMs).min,
            ps.map(p => p.endTimeMs - p.startTimeMs).sum))
        }
      }
    })
  }

  private def now(): Long = System.currentTimeMillis()

  private def compileCount(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean)
  }

  /** Root span of one op; spans opened inside attach to it. */
  def op[T](kind: String)(f: => T): T =
    if (!on) f
    else {
      val (c0, _) = compileCount()
      val id = lock.synchronized { nextId += 1; nextId }
      curOp = id
      clientThread = Thread.currentThread()
      val t0 = now()
      try span0(id, kind, -1, id)(f)
      finally {
        val (c1, mean) = compileCount()
        lock.synchronized {
          ops += Op(id, kind, t0, now(), c1 - c0, (c1 - c0) * mean)
        }
      }
    }

  /** A layer span. Its parent is the innermost open span of this
    * thread or, on a thread the harness does not own (a streaming
    * query's `foreachBatch` body), the client thread's innermost span,
    * which is blocked waiting for it. */
  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val id = lock.synchronized { nextId += 1; nextId }
      val parent = stack.get.headOption.getOrElse(clientTop)
      span0(id, name, parent, curOp)(f)
    }

  private def span0[T](id: Int, name: String, parent: Int, opId: Int)
                      (f: => T): T = {
    val client = Thread.currentThread() eq clientThread
    stack.set(id :: stack.get)
    if (client) clientTop = id
    val t0 = now()
    try f
    finally {
      stack.set(stack.get.tail)
      if (client) clientTop = stack.get.headOption.getOrElse(-1)
      val t1 = now()
      lock.synchronized { spans += Span(id, name, t0, t1, parent, opId) }
    }
  }

  // ---- aggregation -------------------------------------------------------

  /** Per span name: (count, inclusive ms, self ms). Self time is the
    * span's duration minus the union of its children's intervals. */
  def spanTable(): Seq[(String, Long, Double, Double)] = lock.synchronized {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).toSeq.map { case (name, ss) =>
      val incl = ss.map(s => (s.end - s.start).toDouble).sum
      val self = ss.map { s =>
        (s.end - s.start) - union(kids.getOrElse(s.id, Nil)
          .map(c => (c.start max s.start, c.end min s.end)))
      }.sum.toDouble
      (name, ss.size.toLong, incl, self)
    }.sortBy(-_._3)
  }

  private def union(iv: Iterable[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).toSeq.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    total + (curE - curS)
  }

  /** Inclusive span ms by name, summed. */
  def spanMs(name: String): Double = lock.synchronized {
    spans.filter(_.name == name).map(s => (s.end - s.start).toDouble).sum
  }

  /** Layer totals over all ops, the per-op-kind breakdown, and the
    * per-op-kind self-time table (op wall split into layer self times,
    * Spark job time and the driver gap). */
  def layers(): (Map[String, Double], Seq[String]) = lock.synchronized {
    def inOp(t: Long): Option[Op] = ops.find(o => t >= o.start && t <= o.end)
    val tasks = new Tasks
    taskEnds.foreach { case (t, a) =>
      if (inOp(t).isDefined) {
        tasks.n += 1; tasks.runMs += a(0); tasks.gcMs += a(1)
        tasks.input += a(2); tasks.shuffle += a(3); tasks.spill += a(4)
      }
    }
    val opJobs = ops.map { o =>
      o -> jobs.filter(j => j.start >= o.start && j.start <= o.end)
    }
    // wall time of each op covered by at least one of its Spark jobs
    val inJobs = opJobs.map { case (o, js) =>
      o.id -> union(js.map(j => (j.start max o.start, j.end min o.end)))
    }.toMap
    val gap = ops.map(o => o.end - o.start - inJobs(o.id)).sum.toDouble
    val planMs = planPhases.filter(p => inOp(p._1).isDefined)
      .map(_._2.toDouble).sum
    val m = Map(
      "spark.jobs" -> opJobs.map(_._2.size).sum.toDouble,
      "spark.tasks" -> tasks.n.toDouble,
      "spark.job_wall_ms" -> opJobs.flatMap(_._2)
        .map(j => (j.end - j.start).toDouble).sum,
      "spark.task_run_ms" -> tasks.runMs.toDouble,
      "spark.task_gc_ms" -> tasks.gcMs.toDouble,
      "spark.input_bytes" -> tasks.input.toDouble,
      "spark.shuffle_bytes" -> tasks.shuffle.toDouble,
      "spark.spill_bytes" -> tasks.spill.toDouble,
      "driver.gap_ms" -> gap,
      "catalyst.plan_ms" -> planMs,
      "codegen.compiles" -> ops.map(_.compiles).sum.toDouble,
      "codegen.compile_ms" -> ops.map(_.compileMs).sum)
    // per-op-kind table: wall, job-union, gap, and layer self times
    val kids = spans.groupBy(_.parent)
    val lines = ops.groupBy(_.kind).toSeq.sortBy(_._1).flatMap {
      case (kind, os) =>
        val wall = os.map(o => (o.end - o.start).toDouble).sum
        val jobU = os.map(o => inJobs(o.id).toDouble).sum
        val ids = os.map(_.id).toSet
        val inner = spans.filter(s => ids.contains(s.op) && s.parent != -1)
        val selfBy = inner.groupBy(_.name).toSeq.map { case (n, ss) =>
          n -> ss.map { s =>
            (s.end - s.start) - union(kids.getOrElse(s.id, Nil)
              .map(c => (c.start max s.start, c.end min s.end)))
          }.sum.toDouble
        }.sortBy(-_._2)
        val rootSelf = os.map { o =>
          (o.end - o.start) - union(kids.getOrElse(o.id, Nil)
            .map(c => (c.start max o.start, c.end min o.end)))
        }.sum.toDouble
        val n = os.size
        (f"op $kind%-14s n=$n%5d wall=${wall / n}%9.2f ms/op " +
          f"in-jobs=${jobU / n}%9.2f driver-gap=${(wall - jobU) / n}%9.2f " +
          f"compiles=${os.map(_.compiles).sum.toDouble / n}%6.2f/op") +:
          ((selfBy :+ ("(harness, outside layer spans)" -> rootSelf)).map {
            case (name, ms) =>
              f"    self ${ms / n}%9.2f ms/op  ${100 * ms / wall.max(1e-9)}%5.1f%%  $name"
          })
    }
    (m, lines.toSeq)
  }

  /** Raw spans and jobs as JSON lines, for offline analysis. */
  def dump(path: String): Unit = lock.synchronized {
    val sb = new StringBuilder
    spans.foreach(s => sb.append(
      s"""{"span":"${s.name}","start":${s.start},"end":${s.end},"id":${s.id},"parent":${s.parent},"op":${s.op}}""" + "\n"))
    ops.foreach(o => sb.append(
      s"""{"op":"${o.kind}","id":${o.id},"start":${o.start},"end":${o.end},"compiles":${o.compiles}}""" + "\n"))
    jobs.foreach(j => sb.append(
      s"""{"job":true,"start":${j.start},"end":${j.end}}""" + "\n"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      sb.toString)
  }
}
