package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Every word k-gram (shingle) of a whitespace-tokenized string as a
  * 64-bit rolling hash, WITH multiplicity, in one codegen'd pass —
  * zero-shuffle shingles wherever the consumer only needs shingle
  * EQUALITY (exact-Jaccard verification sets, repetition counting, the
  * persisted near-dup index) or a hash of each shingle (the MinHash
  * signature, [[MinHashSig]]): O(tokens) total work, and the 8-byte
  * hashes replace k-token strings in every downstream exchange.
  *
  * Edge parity with the word-string shingles of the DuckDB oracles'
  * `string_split` formulation: fewer than `k` tokens emit ONE
  * truncated gram, and token-LESS input (empty / all-whitespace)
  * emits the single empty-token gram — `split("", " ")` yields one
  * empty token, and two empty documents must still Jaccard-match at
  * 1.0 exactly as the string formulation did. Null input → null.
  * Hash VALUES are engine-internal; never persist across versions
  * (the near-dup index pins its config for exactly this reason).
  */
object KGramHashes64 {
  import RollingSpanHash64.{B, tokenHashes}

  /** FNV-1a of the empty token: offset basis (no chars folded). */
  private final val EmptyTokenHash = 0xcbf29ce484222325L

  private[functions] def gramHashes(t: Array[Long], k: Int): Array[Long] = {
    val m = math.max(t.length - k + 1, 1)
    val grams = new Array[Long](m)
    if (t.length < k) {
      var h = 0L
      var i = 0
      while (i < t.length) { h = h * B + t(i); i += 1 }
      grams(0) = h
    } else {
      var bn = 1L // B^(k-1)
      var i = 0
      while (i < k - 1) { bn *= B; i += 1 }
      var h = 0L
      i = 0
      while (i < k) { h = h * B + t(i); i += 1 }
      grams(0) = h
      var g = 1
      while (g < m) {
        h = (h - t(g - 1) * bn) * B + t(g + k - 1)
        grams(g) = h
        g += 1
      }
    }
    grams
  }

  /** Every k-gram hash of `str` with the edge cases above: token-less
    * text hashes as the single empty token (shared by [[hashes]] and
    * the MinHash signature, [[MinHashSig]]). */
  private[functions] def grams(str: String, k: Int): Array[Long] = {
    val t0 = tokenHashes(str)
    gramHashes(if (t0.length == 0) Array(EmptyTokenHash) else t0, k)
  }

  def hashes(s: UTF8String, k: Int): ArrayData =
    if (s == null) null else new GenericArrayData(grams(s.toString, k))
}

case class KGramHashes64Expr(child: Expression, k: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes() = {
    if (child.dataType != StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"kgram_hashes64 needs STRING, got ${child.dataType}")
    else if (k < 1)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"kgram_hashes64 needs k >= 1, got $k")
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
  }

  override protected def nullSafeEval(input: Any): Any =
    KGramHashes64.hashes(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.KGramHashes64.hashes($c, $k)")

  override protected def withNewChildInternal(
      newChild: Expression): KGramHashes64Expr = copy(child = newChild)

  override def prettyName: String = "kgram_hashes64"
}

object KGramHashes64Expr {
  import org.apache.spark.sql.graft.ColumnBridge

  /** Column API: all k-gram hashes (with multiplicity) of a normalized
    * string.
    */
  def kgramHashes64(c: Column, k: Int): Column =
    ColumnBridge.column(KGramHashes64Expr(ColumnBridge.expression(c), k))
}
