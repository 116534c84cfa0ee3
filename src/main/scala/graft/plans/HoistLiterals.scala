package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.types._

/** Compile each ad-hoc query shape once.
  *
  * Whole-stage codegen splices every int, date and timestamp literal into
  * the generated Java source, so two serving requests that differ only in
  * their date window generate two different classes, and each is compiled
  * twice: on the driver, and again in the task (Spark's codegen cache keys
  * on the pair of context class loader and source, and the task thread's
  * loader differs from the driver's). This physical rule rewrites the
  * primitive-typed literals of `FilterExec` conditions and `ProjectExec`
  * lists to [[HoistedLiteral]]s, which the generated class reads from its
  * `references` array: requests of one shape then generate byte-identical
  * source and both compiles hit the cache.
  *
  * It runs as a `preColumnarTransitions` rule (registered in
  * `GraftExtensions`), i.e. after physical planning and before
  * `CollapseCodegenStages`, both in AQE's per-stage path and in the non-AQE
  * preparations. Scans (pushed filters, partition and index pruning),
  * exchanges and every other node keep their plain literals. Decimal and
  * string literals are already passed by reference, null literals carry no
  * value, and other types keep Spark's own codegen. */
object HoistLiterals extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case p @ (_: FilterExec | _: ProjectExec) => p.transformExpressions {
      case Literal(v, t) if v != null && hoistable(t) => HoistedLiteral(v, t)
    }
  }

  private def hoistable(t: DataType): Boolean = t match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType | DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }
}

/** A non-null primitive literal whose generated code reads the value once,
  * from the generated class's references, into a field. Evaluates, folds,
  * prints and renders as SQL exactly like the [[Literal]] it replaces. */
case class HoistedLiteral(value: Any, dataType: DataType) extends LeafExpression {

  override def foldable: Boolean = true
  override def contextIndependentFoldable: Boolean = true
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value

  override def toString: String = Literal(value, dataType).toString
  override def sql: String = Literal(value, dataType).sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("literal", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "literal", f => s"$f = $ref.${javaType}Value();")
    ExprCode(FalseLiteral, JavaCode.global(field, dataType))
  }
}
