package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StringType}

/** Native Catalyst expression: the 32-long MinHash signature of one
  * document's token array, over its word-3-gram shingles.
  *
  * Why a custom Expression: the composable form (explode the shingles,
  * then 32 `min` aggregates grouped by document) is wide generated code
  * that Spark recompiles whenever its codegen cache has evicted it, and
  * it needs a shuffle on the document key. The math is per document, so
  * here it is one row-local projection whose generated code is a single
  * call into [[MinHashKernels.signature]], compiled once by scalac and
  * kept warm by the JIT.
  *
  * Numeric contract, bit-identical to the Catalyst formulation
  * (`Dedup.shingleRows` + 32 `min`s):
  *   - token hash `h(t)` = `xxhash64(t)`: `XXH64.hashUnsafeBytes` of the
  *     UTF-8 bytes, seed 42 (a null token hashes to the seed);
  *   - shingle of tokens (a, b, c) = `xxhash64(h(a), h(b), h(c))`, the
  *     chained `XXH64.hashLong` from seed 42;
  *   - 1 or 2 tokens give one fallback shingle
  *     `xxhash64(h(t0), h(t1) or 0, 0)`; an empty array gives null;
  *   - with h1/h2 the two 31-bit halves of a shingle, slot i of the
  *     signature is the minimum of `h1 + i·h2` over the shingles. The
  *     masks keep `h1 + 31·h2 < 2^36`, so nothing overflows.
  */
case class MinHashSignature(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_signature"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<string> argument, got ${other.simpleString}")
  }

  override def nullSafeEval(tokens: Any): Any =
    MinHashKernels.signature(tokens.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"""${ev.value} = ${MinHashKernels.JavaName}.signature($t);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native Catalyst expression: the fraction of slots in which two MinHash
  * signatures agree, the estimate of their documents' shingle jaccard.
  * Bit-identical to the sum of 32 `CASE WHEN a[i] = b[i] THEN 1 ELSE 0`
  * terms cast to double and divided by 32; a null slot agrees with
  * nothing. Slots past the shorter signature count as disagreements. */
case class SignatureOverlap(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "signature_overlap"

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<bigint> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    MinHashKernels.overlap(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"${MinHashKernels.JavaName}.overlap($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** The kernels behind [[MinHashSignature]] and [[SignatureOverlap]].
  * A top-level object without a companion class, so scalac emits static
  * forwarders and generated Java calls `MinHashKernels.signature(...)`. */
object MinHashKernels {

  /** Signature length: the number of `h1 + i·h2` hash functions. */
  final val NumHashes = 32

  private[functions] val JavaName = getClass.getName.stripSuffix("$")

  private final val Seed = 42L
  private final val Mask31 = 0x7FFFFFFFL

  private def tokenHash(tokens: ArrayData, i: Int): Long =
    if (tokens.isNullAt(i)) Seed
    else {
      val t = tokens.getUTF8String(i)
      XXH64.hashUnsafeBytes(t.getBaseObject, t.getBaseOffset, t.numBytes, Seed)
    }

  private def shingle(a: Long, b: Long, c: Long): Long =
    XXH64.hashLong(c, XXH64.hashLong(b, XXH64.hashLong(a, Seed)))

  private def fold(sig: Array[Long], sh: Long): Unit = {
    val h2 = (sh >>> 32) & Mask31
    var v = sh & Mask31
    var i = 0
    while (i < NumHashes) {
      if (v < sig(i)) sig(i) = v
      v += h2
      i += 1
    }
  }

  /** The signature of one token array; null when it holds no token. */
  def signature(tokens: ArrayData): ArrayData = {
    val n = tokens.numElements()
    if (n == 0) return null
    val sig = Array.fill(NumHashes)(Long.MaxValue)
    if (n < 3) {
      fold(sig, shingle(tokenHash(tokens, 0), if (n == 2) tokenHash(tokens, 1) else 0L, 0L))
    } else {
      var a = tokenHash(tokens, 0)
      var b = tokenHash(tokens, 1)
      var j = 2
      while (j < n) {
        val c = tokenHash(tokens, j)
        fold(sig, shingle(a, b, c))
        a = b
        b = c
        j += 1
      }
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }

  /** Agreeing slots over the longer signature's length. */
  def overlap(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var same = 0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i) && a.getLong(i) == b.getLong(i)) same += 1
      i += 1
    }
    same.toDouble / math.max(a.numElements(), b.numElements())
  }
}
