package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Tight-loop dot-product kernels over Catalyst array data. Elements
  * are widened to double BEFORE multiplying and summed in a sequential
  * left fold — bit-identical to the higher-order-function formulation
  * (`aggregate(zip_with(a, b, _*_), 0.0, _+_)`) and to DuckDB's
  * `list_sum(list_transform(...))`, so oracle parity is preserved while
  * the evaluation moves from interpreted HOFs (CodegenFallback) into
  * whole-stage codegen.
  */
object DotProduct {
  def dotFF(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0; var i = 0
    while (i < n) { s += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    s
  }
  def dotDD(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0; var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }
  def dotFD(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0; var i = 0
    while (i < n) { s += a.getFloat(i).toDouble * b.getDouble(i); i += 1 }
    s
  }
  def dotDF(a: ArrayData, b: ArrayData): Double = dotFD(b, a)

  /** Integer dot over int arrays — the int8-quantized scoring kernel.
    * Accumulates in a LONG (exact: |q| ≤ 127 ⇒ each product ≤ 16129,
    * no overflow below ~5·10¹⁴ elements), converted to double once at
    * the end.
    */
  def dotII(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0L; var i = 0
    while (i < n) { s += a.getInt(i).toLong * b.getInt(i).toLong; i += 1 }
    s.toDouble
  }

  /** Integer dot over SWAR-packed int8 vectors (`array<bigint>`, 8
    * sign-extended int8 lanes per long — see [[Int8PackedLongsExpr]]).
    * This is the representation the memory-bandwidth argument actually
    * needs AND that Spark's row format serves without per-access
    * allocation: an `array<int>` int8 vector still spends 4 B/element;
    * a BINARY vector is 1 B/element but `getBinary` COPIES the byte
    * array on every read — in a nested-loop scoring join that is one
    * fresh allocation per (corpus, query) PAIR, which measured SLOWER
    * than float32 (SCALE.md axis 7, first revision). `array<bigint>`
    * reads are zero-copy `UnsafeArrayData`/ColumnVector views like the
    * float path's, at 1 B/element density; lanes unpack with shifts in
    * registers. Zero-padded tail lanes contribute 0 — exact.
    */
  def dotPP(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0L; var i = 0
    while (i < n) {
      var x = a.getLong(i); var y = b.getLong(i)
      var k = 0
      while (k < 8) {
        s += x.toByte.toLong * y.toByte.toLong
        x >>= 8; y >>= 8
        k += 1
      }
      i += 1
    }
    s.toDouble
  }
}

/** `dot(array<float|double>, array<float|double>) -> double` as a
  * native codegen'd expression — the ANN hot path (corpus × queries
  * scoring) must not run interpreted at 100 TB.
  */
case class DotProductExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType

  private def elem(t: DataType): DataType = t match {
    case ArrayType(e, _) => e
    case _ => NullType
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (elem(left.dataType), elem(right.dataType)) match {
      case (FloatType | DoubleType, FloatType | DoubleType) =>
        TypeCheckResult.TypeCheckSuccess
      case (IntegerType, IntegerType) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"dot needs two ARRAY<FLOAT|DOUBLE> or two ARRAY<INT>, " +
          s"got ${left.dataType} / ${right.dataType}")
    }

  private lazy val method: String =
    (elem(left.dataType), elem(right.dataType)) match {
      case (FloatType, FloatType)     => "dotFF"
      case (DoubleType, DoubleType)   => "dotDD"
      case (FloatType, DoubleType)    => "dotFD"
      case (IntegerType, IntegerType) => "dotII"
      case _                          => "dotDF"
    }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    method match {
      case "dotFF" => DotProduct.dotFF(x, y)
      case "dotDD" => DotProduct.dotDD(x, y)
      case "dotFD" => DotProduct.dotFD(x, y)
      case "dotII" => DotProduct.dotII(x, y)
      case _       => DotProduct.dotDF(x, y)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.DotProduct.$method($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductExpr =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_dot"
}

object DotProductExpr {
  import org.apache.spark.sql.graft.ColumnBridge

  def dot(a: Column, b: Column): Column =
    ColumnBridge.column(DotProductExpr(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** sqrt(dot(a, a)) — same sequential fold as the HOF l2Norm. */
  def l2Norm(a: Column): Column =
    org.apache.spark.sql.functions.sqrt(dot(a, a))

  def packInt8(a: Column): Column =
    ColumnBridge.column(Int8PackExpr(ColumnBridge.expression(a)))

  def quantizePackInt8(a: Column): Column =
    ColumnBridge.column(Int8QuantizePackExpr(ColumnBridge.expression(a)))

  def int8PackedLongs(a: Column): Column =
    ColumnBridge.column(Int8PackedLongsExpr(ColumnBridge.expression(a)))

  def int8PackedDot(a: Column, b: Column): Column =
    ColumnBridge.column(Int8PackedDotExpr(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
}

/** `array<int>` (int8 values in [-128, 127]) → BINARY, one byte per
  * element — the packed representation [[DotProduct.dotBB]] scores.
  * An `array<int>` int8 vector costs 4 B/element (plus array header),
  * no smaller than the float32 it quantized; the packed form is the
  * actual 4× storage/scan-bandwidth win. Values outside int8 range
  * fail loudly (a silent `.toByte` truncation would corrupt scores).
  */
case class Int8PackExpr(child: Expression) extends UnaryExpression {
  import org.apache.spark.sql.catalyst.util.ArrayData

  override def dataType: DataType = BinaryType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(IntegerType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"int8_pack needs ARRAY<INT>, got $other")
  }

  override protected def nullSafeEval(input: Any): Any =
    Int8PackExpr.pack(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.Int8PackExpr.pack($c)")

  override protected def withNewChildInternal(newChild: Expression): Int8PackExpr =
    copy(child = newChild)

  override def prettyName: String = "int8_pack"
}

object Int8PackExpr {
  def pack(a: ArrayData): Array[Byte] = {
    val n = a.numElements()
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) {
      val v = a.getInt(i)
      if (v < Byte.MinValue || v > Byte.MaxValue)
        throw new IllegalArgumentException(s"int8_pack: $v out of int8 range")
      out(i) = v.toByte
      i += 1
    }
    out
  }
}

/** Fused `array<float|double>` → packed-int8 BINARY quantization:
  * absmax → `scale = 127 / max(absmax, 1e-30)` → `floor(x·scale + ½)`
  * → one byte per element, all in ONE codegen'd tight loop. Value-
  * identical to [[graft.operators.Similarity.quantizeInt8]] followed by
  * [[Int8PackExpr]] (same IEEE ops in the same order: widen-to-double
  * before multiply, floor(x+½) instead of decimal round), but without
  * the interpreted higher-order functions (`transform`/`array_max` are
  * CodegenFallback) and without materializing the intermediate
  * `array<int>` — this is the expression the int8 scan path plants over
  * a raw float corpus. |q| ≤ 127 by construction, so `.toByte` cannot
  * truncate. NaN elements are out of contract (as for `quantizeInt8`).
  */
case class Int8QuantizePackExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = BinaryType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"int8_quantize_pack needs ARRAY<FLOAT|DOUBLE>, got $other")
  }

  private lazy val m: String = child.dataType match {
    case ArrayType(FloatType, _) => "quantF"
    case _                       => "quantD"
  }

  override protected def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    if (m == "quantF") Int8QuantizePackExpr.quantF(a)
    else Int8QuantizePackExpr.quantD(a)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.Int8QuantizePackExpr.$m($c)")

  override protected def withNewChildInternal(newChild: Expression): Int8QuantizePackExpr =
    copy(child = newChild)

  override def prettyName: String = "int8_quantize_pack"
}

object Int8QuantizePackExpr {
  def quantF(a: ArrayData): Array[Byte] = {
    val n = a.numElements()
    var mx = 0.0; var i = 0
    while (i < n) {
      val v = math.abs(a.getFloat(i).toDouble)
      if (v > mx) mx = v
      i += 1
    }
    if (mx < 1e-30) mx = 1e-30
    val scale = 127.0 / mx
    val out = new Array[Byte](n)
    i = 0
    while (i < n) {
      out(i) = math.floor(a.getFloat(i).toDouble * scale + 0.5).toByte
      i += 1
    }
    out
  }

  def quantD(a: ArrayData): Array[Byte] = {
    val n = a.numElements()
    var mx = 0.0; var i = 0
    while (i < n) {
      val v = math.abs(a.getDouble(i))
      if (v > mx) mx = v
      i += 1
    }
    if (mx < 1e-30) mx = 1e-30
    val scale = 127.0 / mx
    val out = new Array[Byte](n)
    i = 0
    while (i < n) {
      out(i) = math.floor(a.getDouble(i) * scale + 0.5).toByte
      i += 1
    }
    out
  }
}

/** Any int8-vector form → the SWAR SCORING representation:
  * `array<bigint>` with 8 sign-extended int8 lanes per long (lane k of
  * long i = element 8·i+k, low byte first; the tail long is
  * zero-padded — zero lanes contribute 0 to any dot, so padding is
  * exact). Accepts the BINARY storage form ([[Int8PackExpr]] /
  * [[Int8QuantizePackExpr]]), a `<col>_q8`-style `array<int>`
  * ([[graft.operators.Similarity.quantizeInt8]]), or a raw
  * `array<float|double>` (fused-quantized, value-identical to
  * `quantizeInt8`). See [[DotProduct.dotPP]] for why the scoring form
  * is longs and not BINARY: `getBinary` copies per access; long-array
  * reads are zero-copy views.
  */
case class Int8PackedLongsExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case ArrayType(IntegerType | FloatType | DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"int8_packed_longs needs BINARY, ARRAY<INT>, or ARRAY<FLOAT|DOUBLE>, got $other")
  }

  private lazy val m: String = child.dataType match {
    case BinaryType                  => "fromB8"
    case ArrayType(IntegerType, _)   => "fromI"
    case ArrayType(FloatType, _)     => "quantF"
    case _                           => "quantD"
  }

  override protected def nullSafeEval(input: Any): Any = m match {
    case "fromB8" => Int8PackedLongsExpr.fromB8(input.asInstanceOf[Array[Byte]])
    case "fromI"  => Int8PackedLongsExpr.fromI(input.asInstanceOf[ArrayData])
    case "quantF" => Int8PackedLongsExpr.quantF(input.asInstanceOf[ArrayData])
    case _        => Int8PackedLongsExpr.quantD(input.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.Int8PackedLongsExpr.$m($c)")

  override protected def withNewChildInternal(newChild: Expression): Int8PackedLongsExpr =
    copy(child = newChild)

  override def prettyName: String = "int8_packed_longs"
}

object Int8PackedLongsExpr {
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  def fromB8(a: Array[Byte]): GenericArrayData = {
    val n = a.length
    val out = new Array[Long]((n + 7) / 8)
    var i = 0
    while (i < n) {
      out(i >> 3) |= (a(i).toLong & 0xffL) << ((i & 7) << 3)
      i += 1
    }
    new GenericArrayData(out)
  }

  def fromI(a: ArrayData): GenericArrayData = {
    val n = a.numElements()
    val bytes = new Array[Byte](n)
    var i = 0
    while (i < n) {
      val v = a.getInt(i)
      if (v < Byte.MinValue || v > Byte.MaxValue)
        throw new IllegalArgumentException(s"int8_packed_longs: $v out of int8 range")
      bytes(i) = v.toByte
      i += 1
    }
    fromB8(bytes)
  }

  def quantF(a: ArrayData): GenericArrayData =
    fromB8(Int8QuantizePackExpr.quantF(a))

  def quantD(a: ArrayData): GenericArrayData =
    fromB8(Int8QuantizePackExpr.quantD(a))
}

/** SWAR int8 dot: `array<bigint>` × `array<bigint>` (both in the
  * [[Int8PackedLongsExpr]] lane layout) → double. Distinct from
  * [[DotProductExpr]] on purpose — a genuine `array<bigint>` dot would
  * silently get lane semantics if the packed form shared the generic
  * entry point.
  */
case class Int8PackedDotExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"int8_packed_dot needs two ARRAY<BIGINT> (SWAR int8 lanes), " +
          s"got ${left.dataType} / ${right.dataType}")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    DotProduct.dotPP(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.DotProduct.dotPP($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Int8PackedDotExpr =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "int8_packed_dot"
}
