package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Asymmetric-distance (ADC) scoring kernel for product quantization:
  * `score = Σ_s table[s·kCodes + codes[s]]` — m table lookups per
  * (vector, query) pair. This is the PQ search hot path (corpus-codes
  * × queries nested-loop join); the higher-order-function formulation
  * (`aggregate(zip_with(codes, sequence(...), ...))`) evaluates
  * interpreted per pair and measured SLOWER than the 512-dim float
  * dot kernel it is meant to beat (SCALE.md axis 17, first
  * revision) — as a native expression the lookups inline into
  * whole-stage codegen like [[DotProduct]].
  */
object PqAdc {
  def score(codes: ArrayData, table: ArrayData, kCodes: Int): Double = {
    val m = codes.numElements()
    var s = 0.0; var i = 0
    while (i < m) {
      s += table.getFloat(i * kCodes + codes.getInt(i))
      i += 1
    }
    s
  }
}

/** `pq_adc(codes array<int>, table array<float>) -> double` with the
  * per-subspace code count pinned at construction.
  */
case class PqAdcExpr(left: Expression, right: Expression, kCodes: Int)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"pq_adc needs (ARRAY<INT> codes, ARRAY<FLOAT> table), got $other")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    PqAdc.score(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], kCodes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.PqAdc.score($a, $b, $kCodes)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdcExpr =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "pq_adc"
}

object PqAdcExpr {
  import org.apache.spark.sql.graft.ColumnBridge

  def pqAdc(codes: Column, table: Column, kCodes: Int): Column =
    ColumnBridge.column(PqAdcExpr(
      ColumnBridge.expression(codes), ColumnBridge.expression(table), kCodes))
}
