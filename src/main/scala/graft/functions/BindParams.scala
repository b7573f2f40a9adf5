package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, LeafExpression, Literal, Predicate, Unevaluable}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, SparkPlan}
import org.apache.spark.sql.types._

/** A literal whose generated code reads its value from a field filled from
  * the class's `references`, so the Java text does not depend on the value.
  * It evaluates, folds and prints as the literal does.
  */
case class BindParam(value: Any, dataType: DataType) extends LeafExpression {
  override def foldable: Boolean = true
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = Literal(value, dataType).toString
  override def sql: String = Literal(value, dataType).sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("bindValue", value)
    val field = ctx.addMutableState(javaType, "bindValue",
      v => s"$v = $ref.${javaType}Value();", forceInline = true)
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

/** Keeps filter values out of generated Java, so a prepared CQL read with a
  * fresh bind value reuses the classes compiled for the last one instead of
  * compiling new ones. Spark inlines the primitive numerics, dates and
  * timestamps into the code it generates; a bind value lands in a filter.
  * Two rules turn those literals into [[BindParam]]s:
  *  - `FilterExec` conditions, as a pre-transition columnar rule: right
  *    before whole-stage codegen collapses the plan, on adaptive query
  *    stages and non-adaptive plans alike. Leaf nodes keep their literals,
  *    so scans still push real values down to parquet; window frames,
  *    limits and `InSet` switches, which match on literals, are not filters.
  *  - a filter over a local relation (the CQL tail) is evaluated at planning
  *    time, as Spark's `ConvertToLocalRelation` does, with a predicate
  *    compiled from the rewritten condition.
  */
object BindParams {
  private val inlined: Set[DataType] = Set(ByteType, ShortType, IntegerType, LongType,
    FloatType, DoubleType, DateType, TimestampType, TimestampNTZType)

  private def parameterize(e: Expression): Expression = e.transform {
    case Literal(v, t) if v != null && inlined(t) => BindParam(v, t)
  }

  object Filters extends Rule[SparkPlan] {
    def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
      case f: FilterExec => f.copy(condition = parameterize(f.condition))
    }
  }

  object LocalFilters extends Rule[LogicalPlan] {
    def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
      case Filter(cond, r: LocalRelation) if cond.deterministic && !cond.exists {
          case _: AttributeReference => false
          case e => e.isInstanceOf[Unevaluable]
        } =>
        val p = Predicate.create(parameterize(cond), r.output)
        p.initialize(0)
        r.copy(data = r.data.filter(p.eval))
    }
  }

  def install(e: SparkSessionExtensions): Unit = {
    e.injectColumnar(_ => new ColumnarRule {
      override def preColumnarTransitions: Rule[SparkPlan] = Filters
    })
    // after filters are inferred from constraints: a folded relation has none
    e.injectPreCBORule(_ => LocalFilters)
  }
}
