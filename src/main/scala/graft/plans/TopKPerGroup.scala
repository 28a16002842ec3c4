package graft.plans

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Per-group top-k as a WHOLE-OPERATOR extension — the preference-order
  * (c) case: custom `LogicalPlan` + `SparkStrategy` + `SparkPlan`,
  * registered through `SparkSessionExtensions`
  * (graft.GraftExtensions).
  *
  * Why not the built-in formulation? Spark 4 does rewrite
  * `row_number().over(...) <= k` into partial+final `WindowGroupLimit`,
  * but each WindowGroupLimit still requires a FULL SORT of its input
  * partition (two Sort operators in the plan) and then scans the sorted
  * runs. This operator keeps a bounded k-row heap per group instead:
  * one shuffle on the group key (same as the window), per-partition
  * work drops from O(n log n) sort to O(n log k), memory from
  * O(partition) to O(k·groups), and nothing ever sorts or spills a
  * whole partition.
  *
  * The physical form runs in two steps, as `TakeOrderedAndProject`
  * does: a PARTIAL step keeps each task's best k per group before the
  * exchange, then the final step merges the survivors. Only k rows
  * per (task, group) cross the shuffle, so wide rows (full vectors
  * riding to a re-rank) stay bounded. The split is exact whenever the
  * order is total within a group — every caller's order ends in the
  * row's id.
  */
case class TopKPerGroup(groupExprs: Seq[Expression], order: Seq[SortOrder],
                        k: Int, child: LogicalPlan) extends UnaryNode {
  require(k > 0, "k must be positive")
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(
      newChild: LogicalPlan): TopKPerGroup = copy(child = newChild)
}

/** `partial` = the map-side step: per-task heaps, no distribution
  * required. The final step needs one hash exchange on the group key —
  * EnsureRequirements inserts it (or reuses an existing compatible
  * partitioning). */
case class TopKPerGroupExec(groupExprs: Seq[Expression],
                            order: Seq[SortOrder], k: Int,
                            partial: Boolean,
                            child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(groupExprs) :: Nil

  override def outputPartitioning: Partitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val groupE = groupExprs
    val orderE = order
    val kk = k
    val childOutput = child.output
    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(groupE, childOutput)
      val ordering = GenerateOrdering.generate(orderE, childOutput)
      // Per key: a max-heap (reversed ordering) whose head is the WORST
      // of the current best-k — O(log k) replace, O(k) memory.
      val rev = ordering.reverse
      val heaps = new java.util.HashMap[
        UnsafeRow, java.util.PriorityQueue[InternalRow]]()
      while (iter.hasNext) {
        val row = iter.next()
        val key = keyProj(row)
        var q = heaps.get(key)
        if (q == null) {
          q = new java.util.PriorityQueue[InternalRow](kk + 1, rev)
          heaps.put(key.copy(), q)
        }
        if (q.size < kk) q.add(row.copy())
        else if (ordering.compare(row, q.peek()) < 0) {
          q.poll(); q.add(row.copy())
        }
      }
      heaps.values().iterator().asScala.flatMap { q =>
        val arr = q.toArray(new Array[InternalRow](q.size))
        java.util.Arrays.sort(arr, ordering)
        arr.iterator
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(
      newChild: SparkPlan): TopKPerGroupExec = copy(child = newChild)
}

/** Planner strategy mapping the logical node to its physical form. */
object TopKPerGroupStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroup(g, o, k, child) =>
      TopKPerGroupExec(g, o, k, partial = false,
        TopKPerGroupExec(g, o, k, partial = true, planLater(child))) :: Nil
    case _ => Nil
  }
}

/** DataFrame-level API. Columns are referenced BY NAME and resolved
  * eagerly against the child's analyzed output — a custom logical node
  * can't rely on the analyzer to resolve lazy Column wrappers inside
  * it. */
object TopK {
  import org.apache.spark.sql.catalyst.expressions.Descending
  import org.apache.spark.sql.graftbridge.PlanBridge

  /** Sort key: column name + direction. */
  final case class Key(name: String, ascending: Boolean = true)
  def asc(name: String): Key = Key(name, ascending = true)
  def desc(name: String): Key = Key(name, ascending = false)

  /** Top `k` rows of each group by the `order` keys. Output is
    * per-group sorted but globally unordered — add a final orderBy for
    * a deterministic total order.
    *
    * When the session was built WITHOUT `graft.GraftExtensions`, the
    * custom logical node would only surface as an opaque planner
    * assertion at action time ("No plan for TopKPerGroup"); instead we
    * detect the missing strategy at call time and fall back to the
    * equivalent `row_number()` window formulation — same rows, the
    * built-in WindowGroupLimit plan (full partition sort) instead of
    * bounded heaps. */
  def perGroup(df: DataFrame, groupCols: Seq[String], order: Seq[Key],
               k: Int): DataFrame = {
    val registered = df.sparkSession.sessionState.planner.strategies
      .contains(TopKPerGroupStrategy)
    if (!registered) return windowFallback(df, groupCols, order, k)
    val plan = PlanBridge.logicalPlan(df)
    val resolver = df.sparkSession.sessionState.conf.resolver
    def attr(n: String): Attribute = plan.output
      .find(a => resolver(a.name, n))
      .getOrElse(throw new IllegalArgumentException(
        s"column $n not in ${plan.output.map(_.name).mkString(", ")}"))
    val sorts = order.map(o =>
      SortOrder(attr(o.name), if (o.ascending) Ascending else Descending))
    PlanBridge.ofRows(df.sparkSession,
      TopKPerGroup(groupCols.map(attr), sorts, k, plan))
  }

  /** Extension-free equivalent: row_number over the same (group, order)
    * window. Spark 4 rewrites the `<= k` filter into WindowGroupLimit,
    * so this is correct everywhere, just sort-based. */
  private[graft] def windowFallback(df: DataFrame, groupCols: Seq[String],
                                    order: Seq[Key], k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, row_number}
    val sortCols = order.map(o =>
      if (o.ascending) col(o.name).asc else col(o.name).desc)
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(sortCols: _*)
    df.withColumn("__graft_rn", row_number().over(w))
      .filter(col("__graft_rn") <= k)
      .drop("__graft_rn")
  }
}
