package org.apache.spark.sql.graftshim

import scala.reflect.ClassTag

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, QueryExecution, SQLExecution, SparkPlan}
import org.apache.spark.sql.types._

/** A non-null literal whose generated code reads its value from the
  * plan's `references` array instead of inlining it. `Literal.doGenCode`
  * writes primitive values into the Java source, so two plans that differ
  * only in such a value compile two classes; with the value bound, they
  * produce the same source and share one class from `CodeGenerator`'s
  * cache. The value is copied once into a mutable-state field, so the row
  * loop reads a field. It prints as the `Literal` it replaces.
  */
final case class BoundLiteral(value: Any, dataType: DataType) extends LeafExpression {
  override def foldable: Boolean = true
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = Literal(value, dataType).toString
  override def sql: String = Literal(value, dataType).sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("boundLiteral", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "boundLiteral", v => s"$v = $ref.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

/** Swaps [[BoundLiteral]]s in for the literals `Literal.doGenCode`
  * inlines, in `FilterExec` conditions and `ProjectExec` projections only.
  * Scans, exchanges, sorts and aggregates keep their `Literal`s, so
  * Parquet pushdown and partition pruning see them as before. Null
  * literals, and those of other types, already go through `references`.
  */
object BindLiterals extends Rule[SparkPlan] {
  private def inlined(t: DataType): Boolean = t match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType | FloatType |
        DoubleType | DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case p @ (_: FilterExec | _: ProjectExec) => p.transformExpressions {
      case Literal(v, t) if v != null && inlined(t) => BoundLiteral(v, t)
    }
  }
}

/** A `QueryExecution` whose physical plan goes through [[BindLiterals]]
  * before Spark's own preparations. The rule thus runs before
  * `InsertAdaptiveSparkPlan`, and AQE's initial stages carry it.
  *
  * Limitation: once an exchange materializes, AQE re-plans the stages
  * above it from the logical plan, so a literal there stays inline. The
  * table layer's writes keep their literals below their exchange.
  */
final class BoundLiteralExecution(session: classic.SparkSession, analyzed: LogicalPlan)
    extends QueryExecution(session, analyzed) {
  override protected def preparations: Seq[Rule[SparkPlan]] = BindLiterals +: super.preparations
}

object BoundLiteralExecution {
  def apply(df: DataFrame): BoundLiteralExecution = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    new BoundLiteralExecution(ds.sparkSession, ds.queryExecution.analyzed)
  }

  /** Runs one table write job over `df` through a
    * [[BoundLiteralExecution]]: each partition's rows through `f`, the
    * results collected to the driver. The rows are Spark's internal rows,
    * which the iterator may reuse.
    */
  def collect[T: ClassTag](df: DataFrame)(f: Iterator[InternalRow] => Iterator[T]): Array[T] = {
    val qe = apply(df)
    SQLExecution.withNewExecutionId(qe, Some("graft write"))(qe.toRdd.mapPartitions(f).collect())
  }
}
