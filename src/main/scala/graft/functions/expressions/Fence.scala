package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Nondeterministic, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.Shim
import org.apache.spark.sql.types.DataType

/** Value-identity PUSHDOWN FENCE — returns `child` unchanged but is
  * MARKED non-deterministic, the optimization guide's §4.4 prescription
  * ("mark expensive expressions non-deterministic to stop the optimizer
  * duplicating them") as a reusable wrapper.
  *
  * Why it exists (r17, measured on pipeline_corpus_clean_gated): a filter
  * on an expensive DERIVED column (quality_score — the full tokenize +
  * stopword + punctuation kernel) sitting above a round-robin scan
  * fan-out was predicate-pushed below the Exchange with the kernel
  * SUBSTITUTED into the filter condition — the corpus paid the kernel
  * twice (once per filter reference, once in the output projection), and
  * the pushed copy ran in the 1-task scan stage the fan-out exists to
  * escape (profiled: one 6.2 s single-task job inside a 6.8 s row).
  * Wrapping the derived column in a fence keeps the filter above the
  * projection and the projection above the exchange: the kernel runs
  * once, wide.
  *
  * The fence acts on the whole Project, not on the fenced column:
  * Catalyst pushes a filter through a Project only when every projected
  * expression is deterministic, so ONE fenced column holds back every
  * filter above that Project, including filters on other, cheap
  * columns. Fence only projections whose filters should stay above
  * them (§4.4's own caveat). Codegen pass-through, so the fenced column
  * costs nothing at runtime.
  */
case class Fence(child: Expression)
    extends UnaryExpression with Nondeterministic {

  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable

  override protected def initializeInternal(partitionIndex: Int): Unit = ()

  override protected def evalInternal(input: InternalRow): Any =
    child.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    ev.copy(code = childGen.code, isNull = childGen.isNull,
      value = childGen.value)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Fence {
  def apply(c: Column): Column = Shim.column(Fence(Shim.expression(c)))
}
