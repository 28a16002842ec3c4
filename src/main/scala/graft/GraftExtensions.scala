package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, SparkPlan}

import graft.functions.{MinHashSignature, SimHash64}

/** graft's session extensions: the planner and optimizer rules of
  * `graft.plans`, a physical rule that keeps generated code free of
  * primitive literal values ([[graft.plans.BindPrimitiveLiterals]]),
  * and SQL-surface registration of graft's native expressions, via the
  * standard extension point:
  *
  * {{{
  *   SparkSession.builder()
  *     .config("spark.sql.extensions", "graft.GraftExtensions")
  *     ...
  *   spark.sql("SELECT minhash_signature(text, 3, 64) FROM docs")
  * }}}
  *
  * The same expressions are reachable from the Column API without the
  * extension (graft.functions.Native) — this makes them first-class in
  * SQL too, the reference's Athena-delegation surface (SURVEY.md §2.7).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }
  private def longLit(e: Expression, what: String): Long = e match {
    case Literal(v: Int, _)  => v.toLong
    case Literal(v: Long, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be a long literal, got $other")
  }
  private def strLit(e: Expression, what: String): String = e match {
    case Literal(v: org.apache.spark.unsafe.types.UTF8String, _)
      if v != null => v.toString
    case other => throw new IllegalArgumentException(
      s"$what must be a string literal, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    // Whole-operator extension: per-group top-k with bounded heaps
    // (graft.plans.TopKPerGroup) — logical node planned by a custom
    // strategy instead of a full window sort.
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerGroupStrategy)
    // Optimizer rule: auto-prepend the cheap size-ratio prune to
    // jaccard-threshold filters (strictly implied, evaluation-order win).
    ext.injectOptimizerRule(_ => graft.plans.JaccardPruneRule)
    // Physical rule before CollapseCodegenStages (every plan, every
    // adaptive stage): primitive literals in filters and projections
    // bind through `references`, so a read with a new key reuses the
    // compiled stage of its plan shape.
    ext.injectColumnar(_ => new ColumnarRule {
      override def preColumnarTransitions: Rule[SparkPlan] =
        graft.plans.BindPrimitiveLiterals
    })
    ext.injectFunction((
      new FunctionIdentifier("minhash_signature"),
      new ExpressionInfo(classOf[MinHashSignature].getName,
        "minhash_signature"),
      (children: Seq[Expression]) => children match {
        case Seq(text) => MinHashSignature(text, 3, 64, 42L)
        case Seq(text, n) => MinHashSignature(text, intLit(n, "shingleN"),
          64, 42L)
        case Seq(text, n, k) => MinHashSignature(text,
          intLit(n, "shingleN"), intLit(k, "numHashes"), 42L)
        case Seq(text, n, k, s) => MinHashSignature(text,
          intLit(n, "shingleN"), intLit(k, "numHashes"), longLit(s, "seed"))
        case other => throw new IllegalArgumentException(
          s"minhash_signature expects 1-4 args, got ${other.size}")
      }))
    ext.injectFunction((
      new FunctionIdentifier("minhash_bands"),
      new ExpressionInfo(classOf[functions.MinHashBands].getName,
        "minhash_bands"),
      (children: Seq[Expression]) => children match {
        case Seq(text) => functions.MinHashBands(text, 3, 64, 16, 42L)
        case Seq(text, n, k, b) => functions.MinHashBands(text,
          intLit(n, "shingleN"), intLit(k, "numHashes"),
          intLit(b, "bands"), 42L)
        case other => throw new IllegalArgumentException(
          s"minhash_bands expects 1 or 4 args, got ${other.size}")
      }))
    ext.injectFunction((
      new FunctionIdentifier("shingle_set"),
      new ExpressionInfo(classOf[functions.ShingleSet].getName,
        "shingle_set"),
      (children: Seq[Expression]) => children match {
        case Seq(text) => functions.ShingleSet(text, 3)
        case Seq(text, n) => functions.ShingleSet(text, intLit(n, "shingleN"))
        case other => throw new IllegalArgumentException(
          s"shingle_set expects 1-2 args, got ${other.size}")
      }))
    ext.injectFunction((
      new FunctionIdentifier("token_fingerprint"),
      new ExpressionInfo(classOf[functions.TokenFingerprint].getName,
        "token_fingerprint"),
      (children: Seq[Expression]) => children match {
        case Seq(text) => functions.TokenFingerprint(text)
        case other => throw new IllegalArgumentException(
          s"token_fingerprint expects 1 arg, got ${other.size}")
      }))
    // Spark's Bloom-filter machinery is internal-only (runtime filters);
    // expose it as user-callable SQL — membership sketches are a
    // first-class pipeline tool (shuffle a 500 KB filter instead of a
    // semi-join of the key set).
    ext.injectFunction((
      new FunctionIdentifier("bloom_filter_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "bloom_filter_agg"),
      (children: Seq[Expression]) => {
        import org.apache.spark.sql.catalyst.expressions.XxHash64
        import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
        import org.apache.spark.sql.types.BinaryType
        // the internal aggregate takes an XXH64-hashed key (or binary);
        // hash non-binary inputs transparently, lift int literals to long
        def keyOf(c: Expression): Expression =
          if (c.dataType == BinaryType) c else new XxHash64(Seq(c))
        def lg(e: Expression, what: String): Expression =
          Literal(longLit(e, what))
        children match {
          case Seq(c) => new BloomFilterAggregate(keyOf(c))
          case Seq(c, n) =>
            new BloomFilterAggregate(keyOf(c), lg(n, "estimatedItems"))
          case Seq(c, n, b) => new BloomFilterAggregate(keyOf(c),
            lg(n, "estimatedItems"), lg(b, "numBits"))
          case other => throw new IllegalArgumentException(
            s"bloom_filter_agg expects 1-3 args, got ${other.size}")
        }
      }))
    ext.injectFunction((
      new FunctionIdentifier("might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "might_contain"),
      (children: Seq[Expression]) => children match {
        case Seq(bf, v) =>
          // probe side hashes exactly like the build side above
          val key =
            if (v.dataType == org.apache.spark.sql.types.BinaryType) v
            else new org.apache.spark.sql.catalyst.expressions
              .XxHash64(Seq(v))
          org.apache.spark.sql.catalyst.expressions
            .BloomFilterMightContain(bf, key)
        case other => throw new IllegalArgumentException(
          s"might_contain expects 2 args, got ${other.size}")
      }))
    ext.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[functions.CosineSim].getName,
        "cosine_sim"),
      (children: Seq[Expression]) => children match {
        case Seq(a, b) => functions.CosineSim(a, b)
        case other => throw new IllegalArgumentException(
          s"cosine_sim expects 2 args, got ${other.size}")
      }))
    ext.injectFunction((
      new FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (children: Seq[Expression]) => children match {
        case Seq(text) => SimHash64(text, 42L)
        case Seq(text, s) => SimHash64(text, longLit(s, "seed"))
        case other => throw new IllegalArgumentException(
          s"simhash64 expects 1-2 args, got ${other.size}")
      }))
    ext.injectFunction((
      new FunctionIdentifier("hyperplane_buckets"),
      new ExpressionInfo(classOf[functions.HyperplaneBuckets].getName,
        "hyperplane_buckets"),
      (children: Seq[Expression]) => children match {
        case Seq(vec) => functions.HyperplaneBuckets(vec, 6, 8, 42L)
        case Seq(vec, p, t) => functions.HyperplaneBuckets(vec,
          intLit(p, "nPlanes"), intLit(t, "nTables"), 42L)
        case Seq(vec, p, t, s) => functions.HyperplaneBuckets(vec,
          intLit(p, "nPlanes"), intLit(t, "nTables"), longLit(s, "seed"))
        case other => throw new IllegalArgumentException(
          s"hyperplane_buckets expects 1, 3 or 4 args, got ${other.size}")
      }))
    // Pipeline scalar surface (SQL parity with the Column API): the
    // same codegen'd built-in compositions as Text.scrubPii /
    // Sampling.portableHash, assembled as raw Catalyst expressions
    // (injected functions must return resolvable expressions; the
    // Column bridge would leave an unresolved node). Equivalence with
    // the Column API is test-guarded (NativeExpressionsSpec).
    ext.injectFunction((
      new FunctionIdentifier("scrub_pii"),
      new ExpressionInfo(graft.functions.Text.getClass.getName,
        "scrub_pii"),
      (children: Seq[Expression]) => children match {
        case Seq(text) =>
          import org.apache.spark.sql.catalyst.expressions.RegExpReplace
          RegExpReplace(
            RegExpReplace(text, Literal(graft.functions.Text.emailRe),
              Literal("<EMAIL>")),
            Literal(graft.functions.Text.phoneRe), Literal("<PHONE>"))
        case other => throw new IllegalArgumentException(
          s"scrub_pii expects 1 arg, got ${other.size}")
      }))
    // Misra-Gries heavy hitters: O(capacity) mergeable state, classic
    // lower-bound + pigeonhole guarantees (q117 pins both as oracle
    // invariant bits).
    ext.injectFunction((
      new FunctionIdentifier("freq_sketch"),
      new ExpressionInfo(classOf[functions.MisraGries].getName,
        "freq_sketch"),
      (children: Seq[Expression]) => (children match {
        case Seq(c) => functions.MisraGries(c, 64)
        case Seq(c, k) => functions.MisraGries(c, intLit(k, "capacity"))
        case other => throw new IllegalArgumentException(
          s"freq_sketch expects 1-2 args, got ${other.size}")
      }).toAggregateExpression()))
    // Both arities route through the native one-pass digest expression
    // (functions.Md5Prefix32) — identical values to the former
    // md5→substring→conv chain, minus its per-row string allocations.
    ext.injectFunction((
      new FunctionIdentifier("portable_hash"),
      new ExpressionInfo(classOf[functions.Md5Prefix32].getName,
        "portable_hash"),
      (children: Seq[Expression]) => children match {
        case Seq(text) => functions.Md5Prefix32(text)
        case Seq(id, salt) =>
          import org.apache.spark.sql.catalyst.expressions.{Cast, Concat}
          import org.apache.spark.sql.types.StringType
          functions.Md5Prefix32(Concat(Seq(Cast(id, StringType),
            Literal("|" + strLit(salt, "salt")))))
        case other => throw new IllegalArgumentException(
          s"portable_hash expects (text) or (id, salt), got ${other.size}")
      }))
  }
}
