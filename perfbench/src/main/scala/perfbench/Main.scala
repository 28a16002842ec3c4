package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Harness entry point. One client thread, one session, one workload:
  *
  *   set up (session, then the workload's tables/indexes REPS times,
  *   keeping the last) → warm up → closed loop for `seconds` → full GC
  *   → output checks → one JSON object written to `--out`.
  *
  * `run.py` builds the classpath, generates the inputs and calls this;
  * see perfbench/README.md for the metric definitions.
  */
object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val name = a("workload"); val seed = a("seed").toLong
    val seconds = a("seconds").toDouble; val traced = a("trace") == "1"
    val data = a("data"); val work = a("work"); val out = a("out")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    def phase(what: String): Unit = System.err.println(f"[perfbench] " +
      f"${(System.currentTimeMillis() - jvmStart) / 1000.0}%.1f s after JVM start: $what")
    val spark = session(work)
    val rec = new Recorder
    val w: Workload = name match {
      case "lake_churn" => new Combined(Seq(
        new LakeChurn(spark, data, work, seed, rec),
        new StreamCurate(spark, data, work, seed, rec)))
      case "retrieval_serve" =>
        new RetrievalServe(spark, data, work, seed, rec)
      case "all" => new Combined(Seq(
        new LakeChurn(spark, data, work, seed, rec),
        new StreamCurate(spark, data, work, seed, rec),
        new RetrievalServe(spark, data, work, seed, rec)))
      case other => throw new IllegalArgumentException(s"workload $other")
    }
    // session ready and the workload's inputs opened
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    phase("session ready")
    if (name == "all") {
      // class-archive training run (run.py): load what every workload's
      // set-up and warm-up loads, then exit normally so the JVM dumps
      w.setup(0); w.warmup(); System.exit(0)
    }
    val setupS = (0 until SetupReps).map { r =>
      val t0 = System.nanoTime(); w.setup(r); (System.nanoTime() - t0) / 1e9
    }
    phase("set up")
    val t0 = System.nanoTime()
    val excluded = w.warmup()
    val warmS = (System.nanoTime() - t0) / 1e9 - excluded
    if (traced) Trace.start(spark)
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val cpu0 = os.getProcessCpuTime
    rec.armed = true
    val loop0 = System.nanoTime()
    val deadline = loop0 + (seconds * 1e9).toLong
    while (System.nanoTime() < deadline && w.step()) ()
    val loopS = (System.nanoTime() - loop0) / 1e9
    val cpuMs = (os.getProcessCpuTime - cpu0) / 1e6
    rec.armed = false
    phase("loop done")
    val heapMb = liveHeapMb()
    val f0 = System.nanoTime()
    w.finish()
    val finishS = (System.nanoTime() - f0) / 1e9
    phase("checked")
    val e2e = Seq(
      "setup_s" -> (sessionS + median(setupS) + warmS),
      "ops_per_s" -> rec.all.size / loopS,
      "read_p50_ms" -> rec.readP50Ms,
      "cpu_ms_per_op" -> cpuMs / rec.all.size,
      "heap_live_mb" -> heapMb)
    val layers = mutable.LinkedHashMap.empty[String, Double]
    if (traced) {
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      val (m, table) = Trace.layers()
      layers ++= m
      Trace.SpanLayers.foreach(s => layers(s + "_ms") = Trace.spanMs(s))
      layers ++= rec.kindLatencies()
      layers ++= w.layerMetrics()
      Workload.LayerNames.foreach(n => layers.getOrElseUpdate(n, 0.0))
      layers("cache.storage_mb") = rec.meanStorageMb
      layers("harness.loop_ops") = rec.all.size.toDouble
      layers ++= e2e.map { case (k, v) => s"traced.$k" -> v }
      Trace.dump(s"$work/trace-spans.jsonl")
      Files.writeString(Paths.get(s"$work/trace-table.txt"),
        (Trace.spanTable().map { case (n, c, incl, self) =>
          f"span $n%-36s n=$c%6d incl=$incl%10.1f ms self=$self%10.1f ms"
        } ++ table).mkString("\n") + "\n")
    }
    val json = new StringBuilder
    json ++= s"""{"workload":${q(name)},"seed":$seed,"attempted":${rec.attempted},"failed":${rec.failed},"""
    json ++= s""""loop_s":${num(loopS)},"session_s":${num(sessionS)},"setup_reps_s":[${setupS.map(num).mkString(",")}],"warmup_s":${num(warmS)},"finish_s":${num(finishS)},"""
    json ++= s""""samples":{${rec.counts.map { case (k, v) => s"${q(k)}:$v" }.mkString(",")}},"""
    json ++= s""""failures":[${rec.failures.take(50).map(q).mkString(",")}],"""
    json ++= s""""checks":[${rec.checks.map { case (n, ok, d) => s"""{"name":${q(n)},"ok":$ok,"detail":${q(d)}}""" }.mkString(",")}],"""
    json ++= s""""e2e":{${e2e.map { case (k, v) => s"${q(k)}:${num(v)}" }.mkString(",")}},"""
    json ++= s""""layers":{${layers.map { case (k, v) => s"${q(k)}:${num(v)}" }.mkString(",")}}}"""
    Files.writeString(Paths.get(out), json.toString + "\n")
    // Everything is written and run.py deletes the run's scratch, so
    // skip the shutdown hooks (stopping the context, deleting its temp
    // dirs): seconds a run would otherwise spend after its result.
    Runtime.getRuntime.halt(0)
  }

  /** The session `Bench` ships: SessionTuning defaults, the graft
    * extensions, UTC, local[4] with 4 shuffle partitions — plus the
    * `graft` SQL catalog over this run's warehouse. */
  def session(work: String): SparkSession = {
    val s = graft.SessionTuning.tuned(SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.sql.catalog.graft",
        classOf[graft.sources.connector.ManifestCatalog].getName)
      .config("spark.sql.catalog.graft.root", s"file://$work/warehouse"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Heap in use after a full collection (MB). */
  private def liveHeapMb(): Double = {
    val mx = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    mx.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def median(xs: collection.Seq[Double]): Double = pct(xs, 0.5)

  /** Linear-interpolated percentile (numpy's default); NaN when empty. */
  def pct(xs: collection.Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted; val h = (s.size - 1) * p
      val lo = math.floor(h).toInt; val hi = math.ceil(h).toInt
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else java.math.BigDecimal.valueOf(v).toPlainString

  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Op latencies, failures and output checks of one run. */
final class Recorder {
  @volatile var armed = false
  var attempted = 0L
  var failed = 0L
  val all = mutable.ArrayBuffer.empty[Double]
  private val readKinds = mutable.LinkedHashSet.empty[String]
  private val byKind = mutable.LinkedHashMap.empty[String,
    mutable.ArrayBuffer[Double]]
  val failures = mutable.ArrayBuffer.empty[String]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  private val storageMb = mutable.ArrayBuffer.empty[Double]

  /** Time `body` as one op of `kind`, then run `verify` on its result
    * outside the timed window. A throw or a verify message is a failed
    * op. Outside the timed loop (setup, warm-up) nothing is recorded
    * but failures still count. Returns the result when it succeeded. */
  def op[T](kind: String, read: Boolean, label: String = "")
           (body: => T)(verify: T => Option[String]): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    val r = try Right(Trace.op(kind)(body))
    catch { case e: Throwable => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    val res = r match {
      case Left(e) =>
        fail(s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}"); None
      case Right(v) =>
        verify(v) match {
          case Some(msg) => fail(s"$kind: $msg"); None
          case None =>
            System.err.println(f"[perfbench] ${if (armed) "op" else "warm"} $kind $label $ms%.1f ms")
            if (armed) {
              all += ms
              if (read) readKinds += kind
              byKind.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
            }
            Some(v)
        }
    }
    if (armed && Trace.enabled)
      storageMb += org.apache.spark.sql.SparkSession.active.sparkContext
        .getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
    res
  }

  /** A derived latency (e.g. freshness spanning several ops): kept per
    * kind for the traced table, not counted as an op. */
  def sample(kind: String, ms: Double): Unit =
    if (armed) byKind.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms

  def fail(msg: String): Unit = {
    failed += 1
    failures += msg.take(400)
    System.err.println(s"[perfbench] FAILED $msg")
  }

  /** One output check: counts as an attempted op, a failed one if !ok. */
  def check(name: String, ok: Boolean, detail: String): Unit = {
    attempted += 1
    checks += ((name, ok, detail))
    if (!ok) fail(s"check $name: $detail")
  }

  /** Geometric mean over the read op kinds of each kind's median
    * latency: every kind weighs the same however many samples it has,
    * and no median falls between two kinds' latency ranges. */
  def readP50Ms: Double =
    if (readKinds.isEmpty) Double.NaN
    else math.exp(readKinds.toSeq.map(k => math.log(Main.pct(byKind(k), 0.5)))
      .sum / readKinds.size)

  def counts: Seq[(String, Int)] = byKind.toSeq.map { case (k, v) =>
    k -> v.size }

  def meanStorageMb: Double =
    if (storageMb.isEmpty) 0.0 else storageMb.sum / storageMb.size

  /** Per op kind of every workload: `lat.<kind>_n` samples, the median
    * `lat.<kind>_p50_ms`, and `lat.<kind>_tail_ms`, the highest
    * percentile with at least ten samples beyond it (1 - 10/n; the
    * median when n < 20). All 0 when the kind never ran here. */
  def kindLatencies(): Seq[(String, Double)] =
    Recorder.AllKinds.flatMap { k =>
      val xs = byKind.getOrElse(k, mutable.ArrayBuffer.empty[Double])
      val n = xs.size
      Seq(s"lat.${k}_n" -> n.toDouble,
        s"lat.${k}_p50_ms" -> (if (n == 0) 0.0 else Main.pct(xs, 0.5)),
        s"lat.${k}_tail_ms" ->
          (if (n == 0) 0.0 else Main.pct(xs, math.max(0.5, 1 - 10.0 / n))))
    }
}

object Recorder {
  val AllKinds: Seq[String] = Seq("lookup", "append", "merge",
    "delete", "maintain", "bm25", "ann", "ivfpq", "refresh", "wave",
    "head_read", "freshness")
}

object Workload {
  /** Per-layer figures some workload reports from `layerMetrics`; the
    * others report 0 (layer not exercised). */
  val LayerNames: Seq[String] = Seq("manifest.live_files",
    "manifest.commit_conflicts", "manifest.bytes_per_user_byte",
    "search_index.create_ms", "vector_index.create_ms", "ivfpq.create_ms",
    "ann.recall_at_10", "prefix_ledger.wave_buckets", "dedup.admitted_frac",
    "streaming.trigger_overhead_ms")
}

/** A closed-loop workload. `setup` may run several times (each in a
  * fresh root; the last one serves the loop); `step` runs one round —
  * the workload's fixed traffic mix, a few seconds long — and returns
  * false when the input stream is exhausted. The loop ends at the first
  * round boundary after `--seconds`, so every run weighs the op kinds
  * in the same shares. */
trait Workload {
  def setup(rep: Int): Unit
  /** Runs every op kind untimed; returns seconds spent on check-only
    * work (excluded from `setup_s`). */
  def warmup(): Double
  def step(): Boolean
  /** End-of-run output checks (via `Recorder.check`). */
  def finish(): Unit
  /** Workload-specific per-layer figures (traced run only). */
  def layerMetrics(): Seq[(String, Double)]
}

/** Several workloads as one: each set-up, warm-up and check runs every
  * part in order, and one round is one round of each part. */
final class Combined(parts: Seq[Workload]) extends Workload {
  def setup(rep: Int): Unit = parts.foreach(_.setup(rep))
  def warmup(): Double = parts.map(_.warmup()).sum
  def step(): Boolean = parts.map(_.step()).forall(identity)
  def finish(): Unit = parts.foreach(_.finish())
  def layerMetrics(): Seq[(String, Double)] = parts.flatMap(_.layerMetrics())
}
