package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg: comma-separated query-name filter (dev use).
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = SessionTuning.local(SessionTuning.envCpus()).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // A failed query must never vanish from the report: record every
    // failure in failures.json AND leave a _FAILED marker where the
    // result parquet would be, so the driver's compare sees `err`
    // instead of silently omitting the query (round-9 lesson: 8 red
    // queries produced a correctness file with zero failures).
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          System.err.println(
            f"[verify] $name ok ${(System.nanoTime() - t0) / 1e9}%.1fs")
        } catch { case e: Throwable =>
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
          System.err.println(s"[verify] $name FAILED: $msg")
          failures(name) = msg.take(500)
          val d = new java.io.File(s"$outDir/$name")
          d.mkdirs()
          Files.writeString(Paths.get(s"$outDir/$name/_FAILED"), msg.take(500))
        } finally {
          // whole-operation boundary: release operator-internal caches
          // (BM25 postings, curation stage frames, PQ codebooks) on
          // EVERY thread — streaming queries persist on their streams'
          // execution threads. In finally so a FAILED query's frames
          // don't linger into the next query's run and cascade under
          // memory pressure.
          CacheScope.releaseAllThreads()
        }
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val failJson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/failures.json"), failJson)
    if (failures.nonEmpty)
      System.err.println(s"[verify] ${failures.size} FAILED: " +
        failures.keys.mkString(", "))
    spark.stop()
  }
}
