package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.planning.ScanOperation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{FilterExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.{FileSourceStrategy, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types._

/** Plans a scan served by a [[GraftFileIndex]] so that its generated code
  * does not depend on the filter's key.
  *
  * Spark writes a primitive literal's value into the generated Java, and
  * its compiled-class cache is keyed by that source, so every new key of
  * an indexed lookup compiled its stage anew, on the driver and again
  * under each executor class loader: after pruning, most of a selective
  * lookup's time. This strategy matches only Project/Filter over a
  * `HadoopFsRelation` whose location is a GraftFileIndex (the extractor
  * FileSourceStrategy uses), plans it with FileSourceStrategy, and
  * rewrites only the condition of each resulting `FilterExec`: every
  * inlined literal becomes a [[ParamLiteral]], whose value the generated
  * class reads from its references. One compiled class then serves every
  * key. The scan's partition, data and pushed filters keep their
  * literals, so pruning and Parquet pushdown are unchanged; EXPLAIN text
  * is unchanged too. Any other plan is left to the stock strategies. */
object IndexedScanStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ScanOperation(_, _, _, LogicalRelation(fs: HadoopFsRelation, _, _, _, _))
        if fs.location.isInstanceOf[GraftFileIndex] =>
      FileSourceStrategy(plan).map(_.transformUp {
        case f: FilterExec => f.copy(condition = ParamLiteral.bind(f.condition))
      })
    case _ => Nil
  }
}

/** A literal whose value the generated code reads from the class's
  * references once, in a field initializer, instead of writing it into
  * the source: the per-row code reads a field where it read a constant,
  * and the source is the same for every value. Equality, `toString` and
  * `sql` are the literal's. */
case class ParamLiteral(literal: Literal) extends LeafExpression {
  override def dataType: DataType = literal.dataType
  override def nullable: Boolean = false
  override def foldable: Boolean = true
  override def eval(input: InternalRow): Any = literal.value
  override def toString: String = literal.toString
  override def sql: String = literal.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("param", literal.value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "param",
      v => s"$v = $ref.${javaType}Value();", forceInline = true)
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

object ParamLiteral {
  /** `e` with every non-null literal that `Literal.doGenCode` writes into
    * the source as a [[ParamLiteral]]; other literals (strings, decimals,
    * binaries, nulls, ...) are already read from the references. */
  def bind(e: Expression): Expression = e.transform {
    case l @ Literal(v, dt) if v != null && inlined(dt) => ParamLiteral(l)
  }

  private def inlined(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
        DateType | TimestampType | TimestampNTZType | _: YearMonthIntervalType |
        _: DayTimeIntervalType | _: TimeType => true
    case _ => false
  }
}
