package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, LeafExpression, Literal, Nondeterministic}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.types.DataType

/** Physical-plan rule (injected as a pre-transition columnar rule, so
  * it runs before `CollapseCodegenStages` on every plan and on every
  * adaptive stage): each non-null primitive [[Literal]] in a
  * `FilterExec` condition or a `ProjectExec` list becomes a
  * [[BoundLiteral]], whose generated code reads the value from the
  * class's `references` array instead of inlining it.
  *
  * `Literal.doGenCode` inlines primitive values (`value == 7L`) into
  * the whole-stage source, and Spark's codegen cache is keyed by that
  * source (per classloader), so every read with a new key compiled its
  * stage again, on the driver and in the task. Bound, two plans that
  * differ only in primitive literal values generate the same source and
  * the second reuses the first's compiled class.
  *
  * Scans keep their pushed, partition and runtime filters: pushdown ran
  * on the `Literal`s in the optimizer. Literals under a nondeterministic
  * expression (random seeds) are left as they are. Idempotent: a
  * [[BoundLiteral]] is not a `Literal`, and adaptive execution applies
  * the rule once per stage. */
object BindPrimitiveLiterals extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case n @ (_: FilterExec | _: ProjectExec) => n.mapExpressions(bind)
  }

  private def bind(e: Expression): Expression = e match {
    case l: Literal
        if l.value != null && CodeGenerator.isPrimitiveType(l.dataType) =>
      BoundLiteral(l)
    case n: Nondeterministic => n
    case _ => e.mapChildren(bind)
  }
}

/** A non-null primitive literal whose generated code is literal-free:
  * the value is passed through `references` and unboxed once into a
  * field, so the per-row cost is one field read. Evaluates, folds and
  * prints exactly as `lit` does, so plan strings and `EXPLAIN` show the
  * value. */
final case class BoundLiteral(lit: Literal) extends LeafExpression {
  override def dataType: DataType = lit.dataType
  override def nullable: Boolean = false
  override def foldable: Boolean = true
  override def eval(input: InternalRow): Any = lit.value
  override def toString: String = lit.toString
  override def sql: String = lit.sql

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("literal", lit.value,
      CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "literal",
      v => s"$v = $ref.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}
