package graft.plans

import org.apache.spark.sql.{Column, GraftSql}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StringType}

/** Signed feature-hashing embedding of a token array as a NATIVE
  * codegen'd Catalyst expression: `array<string>` → L2-normalized
  * `array<double>` of width `dim` (the [[graft.pipeline.Embedder]]
  * kernel).
  *
  * Per non-empty token: `h0 = XXH64(utf8 bytes, 42)`, then hash word
  * `j = XXH64.hashInt(j, h0)` for `j < ⌈dim/64⌉` — exactly Spark's
  * `xxhash64(t, lit(j))`. Dimension i adds +1.0 when bit `i % 64` of
  * word `i / 64` is 0, else −1.0. The norm is a sequential `Σ raw[i]²`
  * in i order; the output is `raw / norm`, or the zero vector when the
  * norm is 0 (no tokens). Null and empty tokens are skipped; a null
  * array yields null. These are the operations, in the same order, of
  * Spark's `xxhash64` plus a higher-order fold over the token array, so
  * values are bit-identical to that formulation (EmbedderSpec pins it).
  *
  * The generated code calls the same [[HashSignEmbed.compute]] loop the
  * interpreted path runs, so the two cannot drift; it stays inside
  * WholeStageCodegen (no `CodegenFallback`).
  */
case class HashSignEmbed(child: Expression, dim: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if dim > 0 => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"hash_sign_embed expects (array<string>, dim > 0), got (${t.simpleString}, $dim)")
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    HashSignEmbed.compute(input.asInstanceOf[ArrayData], dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.plans.HashSignEmbed.compute($a, $dim)")

  override protected def withNewChildInternal(newChild: Expression): HashSignEmbed =
    copy(child = newChild)

  override def prettyName: String = "hash_sign_embed"
}

object HashSignEmbed {
  def compute(toks: ArrayData, dim: Int): ArrayData = {
    val raw = new Array[Double](dim)
    val words = (dim + 63) / 64
    var t = 0
    while (t < toks.numElements()) {
      if (!toks.isNullAt(t)) {
        val s = toks.getUTF8String(t)
        if (s.numBytes() > 0) {
          val h0 = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), 42L)
          var j = 0
          while (j < words) {
            val w = XXH64.hashInt(j, h0)
            var i = j * 64
            val end = math.min(dim, i + 64)
            while (i < end) {
              raw(i) += (if (((w >>> (i & 63)) & 1L) == 0L) 1.0 else -1.0)
              i += 1
            }
            j += 1
          }
        }
      }
      t += 1
    }
    var ss = 0.0
    var i = 0
    while (i < dim) { ss += raw(i) * raw(i); i += 1 }
    val nrm = math.sqrt(ss)
    if (nrm > 0) {
      i = 0
      while (i < dim) { raw(i) = raw(i) / nrm; i += 1 }
    }
    UnsafeArrayData.fromPrimitiveArray(raw)
  }

  /** Column API. */
  def apply(tokens: Column, dim: Int): Column =
    GraftSql.column(HashSignEmbed(GraftSql.expression(tokens), dim))
}
