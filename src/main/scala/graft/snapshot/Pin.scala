package graft.snapshot

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, LongType}

/** A tx pin as a bound parameter rather than a literal. A `Literal`
  * inlines its value into the generated Java, so every fresh pin compiles
  * new whole-stage classes that start cold in the JIT; `Pin` reads its
  * value from the generated class's reference array, so reads that differ
  * only in their pins share one compiled class. Not foldable, so the
  * optimizer never turns it back into a literal — which also means a
  * predicate on it is not pushed into a parquet scan or an in-memory
  * batch filter. */
final case class Pin(v: Long) extends LeafExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = v
  override def toString: String = s"pin($v)"

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pin", java.lang.Long.valueOf(v))
    ev.copy(code = code"final long ${ev.value} = $ref.longValue();", isNull = FalseLiteral)
  }
}

object Pin {
  def column(v: Long): Column = org.apache.spark.sql.graftshim.Columns.of(Pin(v))
}
