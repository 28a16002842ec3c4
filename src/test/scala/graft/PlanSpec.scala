package graft

/** Plan-quality regression guards: the physical plans we rely on for
  * 100 TB scale, asserted at sf0.001 (planning only — `explain` never
  * executes). If an operator edit silently turns a broadcast join into
  * a shuffle join or drops a pushed filter, these fail. */
class PlanSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = SparkEntry.defs(name).fn(spark, dir)
    df.queryExecution.executedPlan.toString
  }

  test("q05: dimension joins broadcast (no shuffle join on small dims)") {
    val p = plan("q05_dim_join_agg")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("q04: point predicate reaches the parquet scan") {
    val p = plan("q04_point_lookup")
    assert(p.contains("PushedFilters: [IsNotNull(l_orderkey), " +
      "EqualTo(l_orderkey,42)]"), p.take(2000))
  }

  test("q02: scan prunes to the projected/filtered columns only") {
    val p = plan("q02_filter_project")
    val readSchema = p.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    // 5 columns: 2 projected keys, revenue's 2 inputs, filter columns
    assert(readSchema.contains("l_orderkey"), readSchema)
    assert(!readSchema.contains("l_comment"), readSchema)
    assert(!readSchema.contains("l_partkey"), readSchema)
  }

  test("q03/q29: orderBy+limit plans as TakeOrderedAndProject " +
    "(per-partition heaps, no global sort materialization)") {
    assert(plan("q03_topk_recent").contains("TakeOrderedAndProject"))
    assert(plan("q29_global_sort").contains("TakeOrderedAndProject"))
  }

  test("q08/q09: semi/anti joins stay semi/anti (no distinct+join)") {
    assert(plan("q08_semi_join").contains("LeftSemi"))
    assert(plan("q09_anti_join").contains("LeftAnti"))
  }

  test("q82: batch ANN plans through the custom bounded-heap operator " +
    "and broadcasts the query set") {
    val p = plan("q82_batch_ann")
    assert(p.contains("TopKPerGroup"), p.take(2000))
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), p.take(2000))
  }

  test("q83: per-group stats join back via broadcast, no corpus window") {
    val p = plan("q83_zscore_outliers")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("WindowExec"), p.take(2000))
  }

  test("q74: deterministic sample scan prunes to the aggregated columns") {
    val p = plan("q74_deterministic_sample")
    val readSchema = p.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id"), readSchema)
    assert(readSchema.contains("lang"), readSchema)
    assert(!readSchema.contains("text"), readSchema)
    assert(!readSchema.contains("embedding"), readSchema)
  }

  test("manifest reads plan ONE vectorized scan with real partition " +
    "pruning (no per-commit unions anywhere in the registry's plans)") {
    import org.apache.spark.sql.functions.col
    val root = "file://" + java.nio.file.Files
      .createTempDirectory("graft-planspec-manifest").toString + "/t"
    val df = spark.range(0, 100)
      .selectExpr("id", "CAST(id % 4 AS STRING) AS part", "id * 2 AS v")
    graft.sources.Manifest.init(spark, root, df, Seq("part"))
    graft.sources.Manifest.commitAppend(spark, root,
      df.withColumn("id", col("id") + 100), Seq("part"))
    val q = graft.sources.Manifest.read(spark, root, None)
      .filter(col("part") === "1" && col("v") > 10L)
      .select("id", "v")
    val p = q.queryExecution.executedPlan
    // ONE scan leaf over both commits — union-of-relations would show 2
    assert(p.collectLeaves().length == 1, p.toString.take(2000))
    val s = p.toString
    // partition pruning: part = '1' plans exactly that value's files
    val files = graft.sources.Manifest.snapshot(spark, root, 2L).files
    val want = files.count(f => graft.sources.Manifest.partValuesOf(f)
      .toMap.get("part").contains("1"))
    assert(want > 0 && want < files.size)
    assert(graft.ScanFiles.perScan(q) == Seq(want.toLong), s.take(2000))
    // the data filter reaches the scan
    assert("(?i)pushed(filters)?[:=] ?\\[[^\\]]*GreaterThan\\(v,10\\)".r
      .findFirstIn(s).isDefined, s.take(2000))
    // vectorized scan (a ColumnarToRow boundary) under a
    // whole-stage-codegen span (the "*(1)" marker in the rendered plan)
    assert(s.contains("ColumnarToRow"), s.take(2000))
    assert(s.contains("*(1)"), s.take(2000))
  }

  test("q144: BM25 broadcasts df/N/avgdl, ranks via " +
    "TakeOrderedAndProject, no cartesian/nested-loop over postings") {
    val p = plan("q144_bm25_search")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastExchange"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q145: batch BM25 plans through TopKPerGroup (bounded heaps, " +
    "no per-query corpus window)") {
    val p = plan("q145_bm25_batch")
    assert(p.contains("TopKPerGroup"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  /** The search-family scale contract: the query-term filter must sit
    * DIRECTLY on the exploded token stream (its child is the Generate),
    * i.e. before any aggregation or exchange — a refactor that floats
    * it above the postings shuffle would make every search query
    * shuffle the whole corpus's tokens. */
  private def termFilterOnStream(p: String, marker: String): Unit = {
    val lines = p.linesIterator.toSeq
    val idxs = lines.zipWithIndex.collect {
      case (l, i) if l.contains("Filter") && l.contains(marker) => i
    }
    assert(idxs.nonEmpty, s"no Filter containing '$marker':\n${p.take(2000)}")
    idxs.foreach { i =>
      assert(lines.lift(i + 1).exists(_.contains("Generate")),
        s"term filter not directly above its Generate:\n" +
          lines.slice(i, i + 3).mkString("\n"))
    }
  }

  test("q144/q148/q149: the term predicate filters the exploded stream " +
    "pre-shuffle (literal isin / levenshtein directly above Generate)") {
    termFilterOnStream(plan("q144_bm25_search"), "IN (window,merge,scan)")
    termFilterOnStream(plan("q148_phrase_search"), "IN (window,merge)")
    termFilterOnStream(plan("q149_fuzzy_match"), "levenshtein")
  }

  test("q169: span-near's phrase-term predicate filters the positional " +
    "stream pre-shuffle, and the chain walk adds no join or window") {
    val p = plan("q169_span_near")
    termFilterOnStream(p, "IN (table,scan,merge)")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q145: batch BM25 semi-join term filter stays below the postings " +
    "aggregation (LeftSemi directly over the exploded stream)") {
    val p = plan("q145_bm25_batch")
    assert(p.contains("LeftSemi"), p.take(2000))
    val lines = p.linesIterator.toSeq
    val semis = lines.zipWithIndex.collect {
      case (l, i) if l.contains("LeftSemi") => i
    }
    semis.foreach { i =>
      // the semi join's stream side must be the exploded token stream
      // (Project/Filter in between are fine — the dl column rides the
      // stream since the two-pass restructure); what must NOT appear
      // between them is an aggregate or exchange, which would mean the
      // term filter ran AFTER the postings shuffle
      val below = lines.slice(i + 1, i + 6).mkString("\n")
      assert(below.contains("Generate"),
        s"semi join not over the exploded stream:\n" +
          lines.slice(i, i + 7).mkString("\n"))
      val between = lines.slice(i + 1, i + 6)
        .takeWhile(!_.contains("Generate")).mkString("\n")
      assert(!between.contains("HashAggregate") &&
        !between.contains("Exchange"),
        s"term filter above an aggregate/exchange:\n$between")
    }
  }

  test("q158/q159: highlight anchors and suggest completions filter " +
    "the exploded stream pre-shuffle (isin / StartsWith above Generate)") {
    termFilterOnStream(plan("q158_highlight"), "IN (merge,window)")
    termFilterOnStream(plan("q159_suggest_prefix"), "StartsWith")
  }

  test("q155: both hybrid-RRF corpus legs rank via per-partition heaps " +
    "(TakeOrderedAndProject), and the fusion itself is top-k too — " +
    "nothing about the fusion sorts the corpus") {
    val p = plan("q155_hybrid_rrf")
    assert(p.linesIterator.count(_.contains("TakeOrderedAndProject")) >= 3,
      p.take(2000))
  }

  test("q147: the composed curation pipeline stays equi-join " +
    "end-to-end — no cartesian or nested-loop over any stage") {
    val p = plan("q147_curation_pipeline")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("no registered query uses a Scala/Python UDF") {
    for ((name, _) <- SparkEntry.defs) {
      val p = plan(name)
      assert(!p.contains("BatchEvalPython"), name)
      assert(!p.contains("ScalaUDF"), name)
    }
  }

  test("scaleOut widens in-memory frames whose leaf stats are the " +
    "defaultSizeInBytes sentinel (not silently 'big')") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // RDD-backed frame: LogicalRDD's stats are the defaultSizeInBytes
    // sentinel (unlike LocalRelation, which has real size stats)
    val rdd = spark.sparkContext
      .parallelize(Seq.tabulate(64)(i => Row(i.toLong, s"doc $i")), 2)
    val tiny = spark.createDataFrame(rdd, StructType(Seq(
      StructField("id", LongType), StructField("text", StringType))))
    val width = spark.sessionState.conf.numShufflePartitions
    assert(graft.scaleOut(tiny).rdd.getNumPartitions == width)
    // and a real (small) file relation still widens too
    val f = spark.read.parquet(s"$dir/nation.parquet")
    assert(graft.scaleOut(f).rdd.getNumPartitions == width)
  }

  test("q94/q97: band/bin joins plan as equi-joins — never a " +
    "nested-loop theta join over the corpora") {
    for (name <- Seq("q94_fuzzy_decontam", "q97_interval_join")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name:\n${p.take(2000)}")
      // broadcast single-row frames are fine; a nested-loop join over
      // two multi-row sides is the shape these operators exist to avoid
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$name:\n${p.take(2000)}")
    }
  }

  test("served search plans ONLY term-bucket partitions: real " +
    "PartitionFilters, and no bucket-range (doc-length) leg anywhere") {
    import graft.sources.{Manifest, SearchIndex}
    val root = "file://" + java.nio.file.Files
      .createTempDirectory("graft-plan-idx").toString
    Manifest.init(spark, s"$root/src",
      Seq((1L, "alpha beta"), (2L, "beta gamma"), (3L, "alpha alpha"))
        .toDF("id", "text"))
    SearchIndex.create(spark, s"$root/src", s"$root/idx", "id", "text",
      buckets = 8)
    val df = SearchIndex.searchBm25(spark, s"$root/idx", "alpha gamma", 5)
    // every scan plans at most the query terms' buckets' files, fewer
    // than the index holds (a bucket range would plan more)
    val bs = Seq("alpha", "gamma").map(t =>
      SearchIndex.termBucket(t, 8).toString).toSet
    val files = Manifest.snapshot(spark, s"$root/idx",
      Manifest.latestVersion(spark, s"$root/idx").get).files
    val bound = files.count(f =>
      Manifest.partValuesOf(f).toMap.get("bucket").exists(bs))
    val planned = graft.ScanFiles.perScan(df)
    assert(planned.forall(n => n <= bound && n < files.size),
      s"served BM25 planned $planned files; the terms' buckets hold " +
        s"$bound of ${files.size}")
  }

  test("served BM25 takes df from a window with no exchange under it") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.window.WindowExec
    import graft.sources.{Manifest, SearchIndex}
    object Plans extends AdaptiveSparkPlanHelper
    val root = "file://" + java.nio.file.Files
      .createTempDirectory("graft-plan-df").toString
    Manifest.init(spark, s"$root/src",
      Seq((1L, "alpha beta"), (2L, "beta gamma"), (3L, "alpha alpha"),
        (4L, "gamma delta alpha")).toDF("id", "text"))
    SearchIndex.create(spark, s"$root/src", s"$root/idx", "id", "text",
      buckets = 8)
    val df = SearchIndex.searchBm25(spark, s"$root/idx", "alpha gamma", 5)
    df.collect()
    val executed = df.queryExecution.executedPlan
    val windows = Plans.collect(executed) { case w: WindowExec => w }
    assert(windows.nonEmpty, executed.toString)
    windows.foreach { w =>
      val under = Plans.collect(w) { case e: Exchange => e }
      assert(under.isEmpty, s"exchange under the df window:\n$w")
    }
  }

  test("q236: the percentile cutoff joins back via broadcast — the " +
    "corpus meets only a map filter, never a rank window") {
    val p = plan("q236_quality_percentile_gate")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    // the only windows are the cumulative scans over the
    // granularity-bounded (lang, score) histogram — every Window in
    // the plan sits above a hash aggregate, not the raw token stream
    val lines = p.linesIterator.toSeq
    lines.zipWithIndex.foreach { case (l, i) =>
      if (l.stripLeading.startsWith("Window")) {
        val below = lines.slice(i + 1, i + 8).mkString("\n")
        assert(below.contains("HashAggregate"),
          s"window not over an aggregate:\n$l\n$below")
      }
    }
  }

  test("no registered query funnels the corpus through a " +
    "single-partition window") {
    for ((name, _) <- SparkEntry.defs) {
      val p = plan(name)
      val lines = p.linesIterator.toSeq
      // A Window directly above Exchange SinglePartition = global window.
      // The one legitimate SinglePartition window is bulkIndex's offset
      // table (input = one row per partition, bounded by partition
      // count, not data size) — identified by its `_pid` ordering key.
      lines.zipWithIndex.foreach { case (l, i) =>
        if (l.contains("Window") && !l.contains("_pid")) {
          val below = lines.slice(i + 1, i + 3).mkString("\n")
          assert(!below.contains("Exchange SinglePartition"),
            s"$name has a global window:\n$l\n$below")
        }
      }
    }
  }
}
