package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, GlobalLimitExec, LimitExec, LocalLimitExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.types._

/** A non-null primitive constant that generated code reads from the
  * class's `references` array instead of inlining into the source.
  * Two plans that differ only in such constants then generate the
  * same source, and Spark's codegen cache serves the second one the
  * class the first compiled (already JIT-compiled, not interpreted).
  * Explain text prints it exactly as the `Literal` it replaces.
  */
case class ParamLiteral(value: Any, dataType: DataType) extends LeafExpression {
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = Literal(value, dataType).toString
  override def sql: String = Literal(value, dataType).sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    val v = ctx.addMutableState(javaType, "param", v => s"$v = $ref.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.global(v, dataType))
  }
}

/** LIMIT run as an iterator `take`, outside whole-stage codegen.
  * Spark's codegen'd limit names its counter from a JVM-wide sequence
  * (`_limit_counter_<n>`), so every plan holding one compiles a new
  * class for its whole pipeline. The pipeline below still yields row
  * by row, so `take` stops it as early as the generated counter did.
  */
case class StableLimitExec(limit: Int, child: SparkPlan, global: Boolean)
    extends LimitExec {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override def requiredChildDistribution: Seq[Distribution] =
    (if (global) AllTuples else UnspecifiedDistribution) :: Nil
  override protected def doExecute(): RDD[InternalRow] = {
    val n = limit
    child.execute().mapPartitions(_.take(n))
  }
  override protected def withNewChildInternal(c: SparkPlan): StableLimitExec =
    copy(child = c)
}

/** Physical rule that makes generated code independent of a query's
  * constants. It runs before `CollapseCodegenStages` on every plan
  * and every adaptive stage (the columnar pre-transition hook), and:
  *
  *  - in `FilterExec` and `ProjectExec`, turns each primitive literal
  *    that codegen would inline (boolean, integral, floating, date,
  *    timestamp) into a [[ParamLiteral]] where it is an operand of a
  *    comparison, of `IN` or of arithmetic, or sits under an `Alias`;
  *  - plans Spark's LIMIT (offset-free) as [[StableLimitExec]].
  *
  * Scan nodes and their pushed filters keep their `Literal`s, so
  * Graft's stats pruning, Parquet pushdown and cached-batch pruning
  * see the same constants as before.
  */
object StableCodegen extends ColumnarRule {
  override def preColumnarTransitions: Rule[SparkPlan] = Params

  private object Params extends Rule[SparkPlan] {
    def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
      case f: FilterExec => f.copy(condition = params(f.condition))
      case p: ProjectExec =>
        p.copy(projectList = p.projectList.map(params(_).asInstanceOf[NamedExpression]))
      case l: LocalLimitExec => StableLimitExec(l.limit, l.child, global = false)
      case g: GlobalLimitExec if g.offset == 0 && g.limit >= 0 =>
        StableLimitExec(g.limit, g.child, global = true)
    }
  }

  private def params(e: Expression): Expression = e.transformUp {
    case op @ (_: BinaryComparison | _: BinaryArithmetic | _: In | _: Alias) =>
      op.mapChildren {
        case Literal(v, dt) if v != null && inlined(dt) => ParamLiteral(v, dt)
        case c => c
      }
  }

  private def inlined(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
        FloatType | DoubleType | DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }
}
