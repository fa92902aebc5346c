package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native MinHash signature: tokenize (Java `\s` set), build 3-word
  * shingles, md5-prefix hash each once (h56 -> mod P31), fold the 16
  * affine families — all in one pass, no per-shingle expression-stack
  * round trips. Value-identical to the column-expression form in
  * graft.ops.TextHash (same md5 prefix, same affine constants), which the
  * DuckDB oracle mirrors; equivalence is asserted in FunctionsSpec.
  */
object MinHashSigUtil {
  import graft.ops.TextHash.{affineA, affineB, P31}

  private val K = graft.ops.TextDedup.MinhashK
  private val ShingleK = graft.ops.TextDedup.ShingleK
  private val As: Array[Long] = Array.tabulate(K)(affineA)
  private val Bs: Array[Long] = Array.tabulate(K)(affineB)

  @inline private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == 0x0b || c == '\f' || c == '\r'

  // digest() resets the instance, so per-thread reuse is safe — a fresh
  // MessageDigest per shingle is pure allocation churn in the hot loop
  private val Md = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  private[functions] def h56(s: String): Long = {
    val d = Md.get().digest(
      s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // first 14 hex chars = 7 bytes
    var h = 0L
    var i = 0
    while (i < 7) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h // 56 bits, non-negative
  }

  def compute(s: UTF8String): UnsafeArrayData = {
    val str = s.toString
    // tokenize
    val words = new scala.collection.mutable.ArrayBuffer[String](64)
    var i = 0; var start = -1
    while (i < str.length) {
      val ws = isWs(str.charAt(i))
      if (!ws && start < 0) start = i
      if (ws && start >= 0) { words += str.substring(start, i); start = -1 }
      i += 1
    }
    if (start >= 0) words += str.substring(start)
    // fold shingles
    val mins = Array.fill(K)(Long.MaxValue)
    var p = 0
    val last = words.length - ShingleK
    val sb = new java.lang.StringBuilder(64)
    while (p <= last) {
      sb.setLength(0)
      var j = 0
      while (j < ShingleK) {
        if (j > 0) sb.append(' ')
        sb.append(words(p + j)); j += 1
      }
      val h31 = h56(sb.toString) % P31
      var k = 0
      while (k < K) {
        val v = (As(k) * h31 + Bs(k)) % P31
        if (v < mins(k)) mins(k) = v
        k += 1
      }
      p += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }
}

case class MinHashSig(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"minhash_sig requires a string argument, got ${child.dataType}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override protected def nullSafeEval(input: Any): Any =
    MinHashSigUtil.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.MinHashSigUtil.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {
  def apply(c: Column): Column =
    GraftBridge.column(MinHashSig(GraftBridge.expression(c)))
}
