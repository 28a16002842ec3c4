package graft

import org.apache.spark.sql.functions._

import graft.operators.Search
import graft.sources.{Manifest, SearchIndex}

/** Materialized inverted index: index-served BM25 must be hash-equal
  * to corpus BM25 after every maintenance path — create, atomic
  * append-only refresh, copy-on-write rewrite (merge-on-read erase +
  * re-index), full-rebuild fallbacks, and torn-refresh healing. */
class SearchIndexSpec extends SparkSpec {
  import spark.implicits._

  private def newRoot(tag: String) = "file://" + java.nio.file.Files
    .createTempDirectory(s"graft-idx-$tag").toString + "/t"

  private val corpus0 = Seq(
    (1L, "en", "spark scans the fast table"),
    (2L, "en", "merge window scan window"),
    (3L, "de", "slow merge of the window table"),
    (4L, "de", "a b c d e"),
    (5L, "fr", "window window window scan"))

  private def corpusBm25(src: String, q: String,
                         requireAll: Boolean = false) =
    Search.rankBm25(Manifest.read(spark, src), "id", "text", q, 10,
        requireAll = requireAll)
      .as[(Long, Double, Long)].collect().toSeq

  private def indexBm25(idx: String, q: String,
                        requireAll: Boolean = false) =
    SearchIndex.searchBm25(spark, idx, q, 10, requireAll = requireAll)
      .as[(Long, Double, Long)].collect().toSeq

  private def freshPair(tag: String): (String, String) = {
    val src = newRoot(s"$tag-src"); val idx = newRoot(s"$tag-idx")
    Manifest.init(spark, src, corpus0.toDF("id", "lang", "text"),
      Seq("lang"))
    SearchIndex.create(spark, src, idx, "id", "text", buckets = 8)
    (src, idx)
  }

  /** Files of the index at `idx` whose bucket holds one of `terms`. */
  private def termFiles(idx: String, terms: String*): Int = {
    val bs = terms.map(t => SearchIndex.termBucket(t, 8).toString).toSet
    Manifest.snapshot(spark, idx, Manifest.latestVersion(spark, idx).get)
      .files.count(f =>
        Manifest.partValuesOf(f).toMap.get("bucket").exists(bs))
  }

  /** Every table scan of `df` planned fewer files than `root` holds. */
  private def assertPruned(df: org.apache.spark.sql.DataFrame,
                           root: String): Unit = {
    val total = ScanFiles.live(spark, root)
    val planned = ScanFiles.perScan(df)
    assert(planned.forall(_ < total),
      s"scans planned $planned of $total files of $root")
  }

  test("create: index-served BM25 equals corpus BM25, incl. requireAll") {
    val (src, idx) = freshPair("eq")
    val q = "window merge scan"
    assert(indexBm25(idx, q) == corpusBm25(src, q))
    assert(indexBm25(idx, q).nonEmpty)
    assert(indexBm25(idx, q, requireAll = true) ==
      corpusBm25(src, q, requireAll = true))
    assert(SearchIndex.baseVersion(spark, idx) == 1L)
  }

  test("append-only refresh is ONE atomic commit and tracks the corpus") {
    val (src, idx) = freshPair("app")
    Manifest.commitAppend(spark, src,
      Seq((6L, "en", "fresh window batch"),
        (7L, "fr", "another merge")).toDF("id", "lang", "text"),
      Seq("lang"))
    val before = Manifest.latestVersion(spark, idx).get
    SearchIndex.refresh(spark, src, idx)
    val after = Manifest.latestVersion(spark, idx).get
    assert(after == before + 1, "append-only refresh must be one commit")
    assert(SearchIndex.baseVersion(spark, idx) == 2L)
    assert(indexBm25(idx, "window merge") == corpusBm25(src, "window merge"))
    // incremental, not a replace: v1 files carry forward by reference
    val v1 = Manifest.snapshot(spark, idx, before).files.toSet
    val v2 = Manifest.snapshot(spark, idx, after).files.toSet
    assert(v1.intersect(v2).nonEmpty)
    // no-op refresh when the source hasn't moved
    assert(SearchIndex.refresh(spark, src, idx) == after)
  }

  test("copy-on-write rewrite takes the erase+append path and tracks") {
    val (src, idx) = freshPair("cow")
    // rewrite the de partition: doc 3 changes, doc 4 re-lists unchanged
    Manifest.mergeInto(spark, src,
      Seq((3L, "de", "slow merge of the window table window window"))
        .toDF("id", "lang", "text"), "id", "lang")
    val before = Manifest.latestVersion(spark, idx).get
    SearchIndex.refresh(spark, src, idx)
    val after = Manifest.latestVersion(spark, idx).get
    assert(after == before + 2, "rewrite refresh = MoR delete + append")
    assert(indexBm25(idx, "window merge") == corpusBm25(src, "window merge"))
    // untouched buckets' files carry forward (not a full replace)
    val v1 = Manifest.snapshot(spark, idx, before).files.toSet
    val vN = Manifest.snapshot(spark, idx, after).files.toSet
    assert(v1.intersect(vN).nonEmpty)
  }

  test("merge-on-read delete at the source head propagates as a MoR " +
    "delete on the INDEX: zero rewrite, stats decremented atomically") {
    val (src, idx) = freshPair("mor")
    Manifest.deleteByKeys(spark, src, Seq(5L).toDF("id"))
    val before = Manifest.latestVersion(spark, idx).get
    val v1 = Manifest.snapshot(spark, idx, before).files.toSet
    SearchIndex.refresh(spark, src, idx)
    val mN = Manifest.snapshotMeta(spark, idx,
      Manifest.latestVersion(spark, idx).get)
    // every index data file carries by reference; the erasure is a
    // delete entry, and BM25 (which reads N/avgdl from the header)
    // still hash-matches the corpus — stats moved with the postings
    assert(v1.subsetOf(mN.files.toSet),
      "delete propagation must not rewrite index files")
    assert(mN.deletes.nonEmpty)
    assert(indexBm25(idx, "window scan") == corpusBm25(src, "window scan"))
    assert(!indexBm25(idx, "window scan").exists(_._1 == 5L))
    // interleaved history: append, delete, append before ONE refresh
    Manifest.commitAppend(spark, src,
      Seq((6L, "en", "window scan window")).toDF("id", "lang", "text"),
      Seq("lang"))
    Manifest.deleteByKeys(spark, src, Seq(2L, 6L).toDF("id"))
    Manifest.commitAppend(spark, src,
      Seq((7L, "fr", "a window returns")).toDF("id", "lang", "text"),
      Seq("lang"))
    SearchIndex.refresh(spark, src, idx)
    assert(indexBm25(idx, "window merge scan") ==
      corpusBm25(src, "window merge scan"))
    assert(!indexBm25(idx, "window merge scan")
      .exists(r => r._1 == 2L || r._1 == 6L))
    assert(SearchIndex.baseVersion(spark, idx) ==
      Manifest.latestVersion(spark, src).get)
    // two CONSECUTIVE deletes merge into ONE index commit, and the
    // merged pre-image read (at the run's first version − 1) keeps
    // the collection stats exact
    val vA = Manifest.latestVersion(spark, idx).get
    Manifest.deleteByKeys(spark, src, Seq(1L).toDF("id"))
    Manifest.deleteByKeys(spark, src, Seq(3L).toDF("id"))
    SearchIndex.refresh(spark, src, idx)
    assert(Manifest.latestVersion(spark, idx).get == vA + 1,
      "a delete run must land as one merged index commit")
    assert(indexBm25(idx, "window merge scan") ==
      corpusBm25(src, "window merge scan"))
    // a delete NOT keyed on the id column still falls back to rebuild
    Manifest.deleteByKeys(spark, src, Seq("fr").toDF("lang"))
    SearchIndex.refresh(spark, src, idx)
    assert(indexBm25(idx, "window scan") == corpusBm25(src, "window scan"))
    assert(!indexBm25(idx, "window scan").exists(_._1 == 7L))
  }

  test("torn refresh: reads refuse loudly, the next refresh heals") {
    val (src, idx) = freshPair("torn")
    // simulate the crash window: the delete half of a rewrite refresh
    // landed (pending stamped) but the append never did
    Manifest.deleteByKeys(spark, idx, Seq(3L).toDF("id"),
      extraMeta = Map("idx.pending" -> "99"))
    val e = intercept[IllegalArgumentException] {
      SearchIndex.searchBm25(spark, idx, "window", 5).collect()
    }
    assert(e.getMessage.contains("torn"))
    SearchIndex.refresh(spark, src, idx) // heals via full rebuild
    assert(indexBm25(idx, "window merge") == corpusBm25(src, "window merge"))
  }

  test("a warm searchBm25 call runs at most two Spark jobs") {
    val (_, idx) = freshPair("jobs")
    def serve() = SearchIndex.searchBm25(spark, idx, "window merge scan", 3)
      .collect()
    val want = serve()
    val (rows, jobs) = SparkJobs.during(spark)(serve())
    assert(rows.toSeq == want.toSeq && rows.nonEmpty)
    assert(jobs <= 2, s"searchBm25 ran $jobs Spark jobs")
  }

  test("a term lookup prunes the postings scan to the term's buckets") {
    val (_, idx) = freshPair("prune")
    val df = SearchIndex.searchBm25(spark, idx, "window", 5)
    assertPruned(df, idx)
    // the planned files are exactly the term's bucket's files
    val want = termFiles(idx, "window")
    assert(want > 0)
    val planned = ScanFiles.perScan(df)
    assert(planned.forall(_ == want),
      s"scans planned $planned files; the term's bucket holds $want")
  }

  test("guard rails: wrong source refuses, empty query refuses") {
    val (src, idx) = freshPair("guard")
    intercept[IllegalArgumentException] {
      SearchIndex.refresh(spark, "file:///nonexistent", idx)
    }
    intercept[IllegalArgumentException] {
      SearchIndex.searchBm25(spark, idx, "   ", 5)
    }
    // rollback/replace of the source below the indexed base refuses
    Manifest.commitAppend(spark, src,
      Seq((8L, "en", "x y")).toDF("id", "lang", "text"), Seq("lang"))
    SearchIndex.refresh(spark, src, idx)
    Manifest.rollback(spark, src, 1L)
    // rollback commits a NEW version replaying v1's files, so the head
    // moved FORWARD; the diff contract still reconciles it (files of
    // v2 removed) or rebuilds — either way results must track
    SearchIndex.refresh(spark, src, idx)
    assert(indexBm25(idx, "window merge") == corpusBm25(src, "window merge"))
  }

  test("suggest served from the index equals the corpus-pass suggest; " +
    "stats answers from the header with zero data IO") {
    val (src, idx) = freshPair("sg")
    val fromIdx = SearchIndex.suggest(spark, idx, "s", 10)
      .as[(String, Long, Long)].collect().toSeq
    val fromCorpus = Search.suggest(Manifest.read(spark, src),
        "id", "text", "s", 10)
      .as[(String, Long, Long)].collect().toSeq
    assert(fromIdx == fromCorpus && fromIdx.nonEmpty)
    // corpus0 s-prefix tokens: scan×2 (docs 2,5), scans/slow/spark ×1
    assert(fromIdx.head == ("scan", 2L, 2L))
    val st = SearchIndex.stats(spark, idx).collect().head
    assert(st.getLong(0) == 5L)   // docs
    assert(st.getLong(1) == 5L)   // docs with text
    assert(st.getLong(2) == 24L)  // total tokens (5+4+6+5+4)
    assert(st.getInt(4) == 8 && st.getLong(5) == 1L)
  }

  test("search_after: keyset pages tile the full ranking exactly — " +
    "disjoint, ordered, and equal to the one-shot top-k concatenation") {
    val (_, idx) = freshPair("sa")
    val q = "window merge scan table"
    val full = SearchIndex.searchBm25(spark, idx, q, 10)
      .as[(Long, Double, Long)].collect().toSeq
    assert(full.size >= 4) // corpus0: docs 1,2,3,5 match
    val pages = Iterator.iterate(
        (SearchIndex.searchBm25(spark, idx, q, 2)
          .as[(Long, Double, Long)].collect().toSeq, 0)) {
        case (page, n) =>
          val last = page.last
          (SearchIndex.searchBm25(spark, idx, q, 2,
            after = Some((last._2, last._1)))
            .as[(Long, Double, Long)].collect().toSeq, n + 1)
      }.map(_._1).takeWhile(_.nonEmpty).take(10).toSeq
    assert(pages.flatten == full)
    // the cursor at the final hit yields an empty page (full holds
    // ALL hits here: 4 matching docs < k=10)
    val endCursor = full.last
    assert(SearchIndex.searchBm25(spark, idx, q, 2,
      after = Some((endCursor._2, endCursor._1))).isEmpty)
  }

  test("suggest twin: prefix lookup equals the corpus suggest, prunes " +
    "to the first-char partition, and refresh tracks the index") {
    val (src, idx) = freshPair("tw")
    val twin = newRoot("tw-twin")
    SearchIndex.createSuggestTwin(spark, idx, twin)
    val got = SearchIndex.suggestFromTwin(spark, twin, "s", 10)
    assert(got.as[(String, Long, Long)].collect().toSeq ==
      Search.suggest(Manifest.read(spark, src), "id", "text", "s", 10)
        .as[(String, Long, Long)].collect().toSeq)
    assertPruned(got, twin)
    // advance source + index, refresh the twin: new tokens appear
    Manifest.commitAppend(spark, src,
      Seq((6L, "en", "sunny sunny table")).toDF("id", "lang", "text"),
      Seq("lang"))
    SearchIndex.refresh(spark, src, idx)
    SearchIndex.refreshSuggestTwin(spark, idx, twin)
    val after = SearchIndex.suggestFromTwin(spark, twin, "su", 10)
      .as[(String, Long, Long)].collect().toSeq
    assert(after == Seq(("sunny", 2L, 1L)))
    // current twin refreshes are commit-free no-ops
    val v = Manifest.latestVersion(spark, twin).get
    assert(SearchIndex.refreshSuggestTwin(spark, idx, twin) == v)
  }

  test("search asOf: an older version answers from that snapshot's " +
    "postings AND header stats; an unknown version refuses") {
    val (src, idx) = freshPair("tt")
    val q = "window merge"
    val live1 = indexBm25(idx, q)
    Manifest.commitAppend(spark, src,
      Seq((7L, "en", "window window merge")).toDF("id", "lang", "text"),
      Seq("lang"))
    SearchIndex.refresh(spark, src, idx)
    assert(indexBm25(idx, q) != live1) // head moved: N/df/avgdl shifted
    val asOf = SearchIndex.searchBm25(spark, idx, q, 10,
        asOf = Some(1L))
      .as[(Long, Double, Long)].collect().toSeq
    assert(asOf == live1)
    intercept[IllegalArgumentException] {
      SearchIndex.searchBm25(spark, idx, q, 5, asOf = Some(99L))
    }
  }

  test("positional index: searchNear equals corpus rankNear/rankPhrase " +
    "through a copy-on-write rewrite refresh; a positionless index " +
    "refuses") {
    val src = newRoot("ps-src"); val idx = newRoot("ps-idx")
    Manifest.init(spark, src, corpus0.toDF("id", "lang", "text"),
      Seq("lang"))
    SearchIndex.create(spark, src, idx, "id", "text", buckets = 8,
      positions = true)
    // rewrite one partition (erase + re-index must carry positions)
    Manifest.mergeInto(spark, src,
      Seq((3L, "de", "slow merge of the window window table"))
        .toDF("id", "lang", "text"), "id", "lang")
    SearchIndex.refresh(spark, src, idx)
    def fromIdx(p: String, slop: Int) =
      SearchIndex.searchNear(spark, idx, p, slop, 10)
        .as[(Long, Double, Long)].collect().toSeq
    def fromCorpus(p: String, slop: Int) =
      Search.rankNear(Manifest.read(spark, src), "id", "text", p,
          slop, 10)
        .as[(Long, Double, Long)].collect().toSeq
    assert(fromIdx("window table", 1).nonEmpty)
    assert(fromIdx("window table", 1) == fromCorpus("window table", 1))
    // the span query's scan still prunes to the phrase terms' buckets
    assertPruned(SearchIndex.searchNear(spark, idx, "window table", 1, 10),
      idx)
    // slop 0 = exact phrase, equal to rankPhrase's scores
    assert(fromIdx("merge window", 0) ==
      Search.rankPhrase(Manifest.read(spark, src), "id", "text",
          "merge window", 10)
        .as[(Long, Double, Long)].collect().toSeq)
    // generic compaction preserves positional rows and span results
    val before = fromIdx("window table", 1)
    Manifest.compact(spark, idx, smallBytes = 1L << 30)
    assert(fromIdx("window table", 1) == before)
    // an index built without positions refuses span queries
    val (_, plain) = freshPair("ps-plain")
    intercept[IllegalArgumentException] {
      SearchIndex.searchNear(spark, plain, "window merge", 0, 5)
    }
  }

  test("sharded search: globalized N/avgdl/df make two heterogeneous " +
    "shards score exactly like ONE index over the union corpus") {
    val (a, b) = corpus0.partition(_._1 <= 2L)
    def shard(tag: String, rows: Seq[(Long, String, String)],
              buckets: Int): String = {
      val src = newRoot(s"$tag-src"); val idx = newRoot(s"$tag-idx")
      Manifest.init(spark, src, rows.toDF("id", "lang", "text"),
        Seq("lang"))
      SearchIndex.create(spark, src, idx, "id", "text", buckets)
      idx
    }
    val shards = Seq(shard("sh-a", a, 4), shard("sh-b", b, 16))
    val (_, whole) = freshPair("sh-union")
    val q = "window merge scan"
    val sharded = SearchIndex
      .searchBm25Sharded(spark, shards, q, 10)
      .as[(Long, Double, Long)].collect().toSeq
    assert(sharded == indexBm25(whole, q) && sharded.nonEmpty)
    // requireAll composes with the union
    assert(SearchIndex.searchBm25Sharded(spark, shards, q, 10,
        requireAll = true)
      .as[(Long, Double, Long)].collect().toSeq ==
      indexBm25(whole, q, requireAll = true))
  }

  test("bool and fuzzy served from the index equal their corpus-pass " +
    "twins (must gate, must_not anti-join, edit-distance weighting)") {
    val (src, idx) = freshPair("bf")
    val corpus = Manifest.read(spark, src)
    assert(SearchIndex.searchBool(spark, idx, must = Seq("window"),
        should = Seq("merge"), mustNot = Seq("slow"), k = 10)
        .as[(Long, Double, Long)].collect().toSeq ==
      Search.searchBool(corpus, "id", "text", must = Seq("window"),
        should = Seq("merge"), mustNot = Seq("slow"), k = 10)
        .as[(Long, Double, Long)].collect().toSeq)
    // 'window' (typo) reaches window/windows-like vocabulary tokens
    val fIdx = SearchIndex.matchFuzzy(spark, idx, "window", 10)
      .as[(Long, Long, Long)].collect().toSeq
    assert(fIdx == Search.matchFuzzy(corpus, "id", "text", "window", 10)
      .as[(Long, Long, Long)].collect().toSeq)
    assert(fIdx.nonEmpty)
  }

  test("create over an EMPTY source table: zero stats (the write-job " +
    "observation completes with no tasks), first refresh brings them") {
    val src = newRoot("e-src"); val idx = newRoot("e-idx")
    Manifest.init(spark, src, Seq.empty[(Long, String)].toDF("id", "text"))
    SearchIndex.create(spark, src, idx, "id", "text", buckets = 4)
    val st = SearchIndex.stats(spark, idx).collect().head
    assert(st.getLong(0) == 0L && st.getLong(1) == 0L)
    Manifest.commitAppend(spark, src,
      Seq((1L, "hello world")).toDF("id", "text"))
    SearchIndex.refresh(spark, src, idx)
    val st2 = SearchIndex.stats(spark, idx).collect().head
    assert(st2.getLong(0) == 1L && st2.getLong(2) == 2L)
    assert(SearchIndex.searchBm25(spark, idx, "hello", 5).count() == 1L)
  }

  test("served queries plan NO corpus-sized leg: every scan is " +
    "term-bucket pruned — the old bucket >= B doc-length leg is gone") {
    val src = newRoot("dl-src"); val idx = newRoot("dl-idx")
    Manifest.init(spark, src, corpus0.toDF("id", "lang", "text"),
      Seq("lang"))
    SearchIndex.create(spark, src, idx, "id", "text", buckets = 8,
      positions = true)
    val served = Seq(
      SearchIndex.searchBm25(spark, idx, "window merge", 5) ->
        Seq("window", "merge"),
      SearchIndex.searchBool(spark, idx, must = Seq("window"),
        should = Seq("merge"), mustNot = Seq("slow"), k = 5) ->
        Seq("window", "merge", "slow"),
      SearchIndex.searchNear(spark, idx, "window table", 1, 5) ->
        Seq("window", "table"))
    served.foreach { case (df, terms) =>
      assertPruned(df, idx)
      // dl now rides each postings row: no serving scan may plan more
      // than the query terms' buckets (the old one-row-per-corpus-doc
      // leg scanned a bucket RANGE)
      val bound = termFiles(idx, terms: _*)
      val planned = ScanFiles.perScan(df)
      assert(planned.forall(_ <= bound),
        s"scans planned $planned files; the terms' buckets hold $bound")
    }
  }

  test("fuzzy twin: gram-pruned candidates reproduce matchFuzzy " +
    "exactly (pruned and vacuous-bound paths); stale twin refuses") {
    val (src, idx) = freshPair("fz")
    val twin = newRoot("fz-twin")
    SearchIndex.createFuzzyTwin(spark, idx, twin)
    def viaTwin(t: String, e: Int) =
      SearchIndex.matchFuzzyFromTwin(spark, idx, twin, t, 10,
        maxEdits = e).as[(Long, Long, Long)].collect().toSeq
    def direct(t: String, e: Int) =
      SearchIndex.matchFuzzy(spark, idx, t, 10, maxEdits = e)
        .as[(Long, Long, Long)].collect().toSeq
    // maxEdits=1 on a 6-gram term: bound 6-3=3 > 0 → gram-pruned path
    assert(viaTwin("windoe", 1) == direct("windoe", 1))
    assert(viaTwin("windoe", 1).nonEmpty)
    // maxEdits=2: bound 6-6=0 vacuous → length-windowed dictionary path
    assert(viaTwin("windok", 2) == direct("windok", 2))
    // short term exercises padding (1-char tokens are indexed too)
    assert(viaTwin("b", 1) == direct("b", 1))
    assert(viaTwin("b", 1).nonEmpty)
    // no candidates at all → empty frame with the right shape
    assert(viaTwin("zzzzzzzzzz", 1).isEmpty)
    // the postings scan for the matched variants is bucket-pruned
    assertPruned(SearchIndex.matchFuzzyFromTwin(spark, idx, twin,
      "windoe", 10, maxEdits = 1), idx)
    // twin must reflect the index head: stale → loud refusal, refresh heals
    Manifest.commitAppend(spark, src,
      Seq((6L, "en", "windows vista")).toDF("id", "lang", "text"),
      Seq("lang"))
    SearchIndex.refresh(spark, src, idx)
    val e = intercept[IllegalArgumentException] {
      SearchIndex.matchFuzzyFromTwin(spark, idx, twin, "windoe", 10)
    }
    assert(e.getMessage.contains("refreshFuzzyTwin"))
    SearchIndex.refreshFuzzyTwin(spark, idx, twin)
    assert(viaTwin("windoe", 1) == direct("windoe", 1))
    // current twin refreshes are commit-free no-ops
    val v = Manifest.latestVersion(spark, twin).get
    assert(SearchIndex.refreshFuzzyTwin(spark, idx, twin) == v)
  }

  test("fuzzy twin randomized differential: twin-served == direct for " +
    "30 random (term, maxEdits) probes over a dense-neighbor corpus") {
    // alphabet {a..d}, short words: edit-distance-1/2 neighbors are
    // everywhere, so the gram bound, the length window, and the
    // vacuous-bound fallback all get exercised for real
    val rnd = new scala.util.Random(421)
    def word() = (1 to (1 + rnd.nextInt(6)))
      .map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
    val corpus = (1L to 40L).map(i =>
      (i, (1 to (3 + rnd.nextInt(8))).map(_ => word()).mkString(" ")))
    val src = newRoot("fzr-src"); val idx = newRoot("fzr-idx")
    val twin = newRoot("fzr-twin")
    Manifest.init(spark, src, corpus.toDF("id", "text"))
    SearchIndex.create(spark, src, idx, "id", "text", buckets = 8)
    SearchIndex.createFuzzyTwin(spark, idx, twin)
    var nonEmpty = 0
    (1 to 30).foreach { _ =>
      val t = word(); val e = 1 + rnd.nextInt(2)
      val got = SearchIndex.matchFuzzyFromTwin(spark, idx, twin, t, 50,
        maxEdits = e).as[(Long, Long, Long)].collect().toSeq
      val want = SearchIndex.matchFuzzy(spark, idx, t, 50, maxEdits = e)
        .as[(Long, Long, Long)].collect().toSeq
      assert(got == want, s"term '$t' maxEdits $e")
      if (want.nonEmpty) nonEmpty += 1
    }
    assert(nonEmpty >= 10, s"degenerate probe set ($nonEmpty non-empty)")
  }

  test("sharded search fails LOUDLY when shards overlap on a doc id " +
    "instead of silently double-counting the merged scores") {
    // both shards index doc 2 — the disjointness precondition broken
    val dup = corpus0.filter(_._1 == 2L)
    def shard(tag: String, rows: Seq[(Long, String, String)]): String = {
      val src = newRoot(s"$tag-src"); val idx = newRoot(s"$tag-idx")
      Manifest.init(spark, src, rows.toDF("id", "lang", "text"),
        Seq("lang"))
      SearchIndex.create(spark, src, idx, "id", "text", buckets = 4)
      idx
    }
    val shards = Seq(shard("ov-a", corpus0.take(3)), shard("ov-b", dup))
    val e = intercept[Exception] {
      SearchIndex.searchBm25Sharded(spark, shards, "window merge", 10)
        .collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("more than one shard")),
      s"expected the overlap guard, got: ${msgs(e).mkString(" | ")}")
  }

  test("hybridRrf served from both indexes equals the corpus-pass " +
    "hybrid (sparse leg ≡ rankBm25, dense leg ≡ brute force)") {
    val (src, idx) = freshPair("hy")
    val vidx = newRoot("hy-vidx")
    val emb = Seq(
      (1L, Array(1f, 0f)), (2L, Array(0.9f, 0.3f)),
      (3L, Array(0.2f, 1f)), (4L, Array(-0.5f, 0.5f)),
      (5L, Array(0.8f, 0.6f))).toDF("vec_id", "embedding")
    graft.sources.VectorIndex.create(spark, vidx, emb, "vec_id",
      "embedding", nCells = 2)
    val qv = Array(1.0, 0.1)
    val served = SearchIndex.hybridRrf(spark, idx, vidx,
        "window merge", qv, k = 5, kEach = 4,
        denseFilter = Some(col("id") =!= 1L))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // corpus-pass legs with the same inputs, fused the same way
    val expected = Search.rrfFuse(
        Search.rankBm25(Manifest.read(spark, src), "id", "text",
          "window merge", 4).select(col("id"), col("score")),
        graft.operators.Similarity.bruteForceTopK(emb, "vec_id",
          "embedding", queryId = 1L, k = 4)
          .select(col("vec_id"), col("cosine")),
        "id", "vec_id", "id", 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(served == expected && served.nonEmpty)
  }
}
