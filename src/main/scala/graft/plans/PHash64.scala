package graft.plans

import org.apache.spark.sql.{Column, GraftSql}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/** 64-bit perceptual hash over an opaque `binary` media payload as a
  * NATIVE codegen'd Catalyst expression — the media tier's analog of
  * q32's SimHash, for perceptual near-dup dedup.
  *
  * Structure is the classic dHash (difference hash): resample the
  * payload onto a fixed 9-column × 8-row grid of block means, then emit
  * one bit per HORIZONTALLY adjacent cell pair (brighter-than-right),
  * 8 comparisons × 8 rows = 64 bits. A real image pipeline feeds
  * decoded grayscale pixels; here the payload bytes themselves play the
  * sample stream (the [[graft.pipeline.MediaOps]] stub contract — the
  * plumbing, signature and plan shape are production-real, the decode
  * is the sandbox stand-in). Two properties make it a dedup signature:
  *
  *  - LOCALITY: a byte edit touches one grid cell, so at most the two
  *    bits comparing that cell to its neighbors flip — near-identical
  *    payloads land within small Hamming distance.
  *  - EXACTNESS: cells are compared by integer cross-multiplication
  *    (`sum_j · cnt_{j+1} > sum_{j+1} · cnt_j` — block MEANS without
  *    the division), so there is no float arithmetic anywhere and the
  *    DuckDB oracle mirror is bit-identical by construction. Safe while
  *    `sum · cnt < 2^63`, i.e. payloads under ~2 GB — beyond any
  *    single-asset payload this pipeline carries.
  *
  * Cell c (0-based, row-major, 72 cells) covers byte range
  * `[c·n/72, (c+1)·n/72)` (integer division — empty when n < 72); an
  * empty cell compares as 0 (bit unset). Bit b (0..63) compares cell
  * `(b/8)·9 + b%8` against its right neighbor. NULL payload → NULL.
  */
case class PHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"phash64 expects binary, got ${child.dataType.simpleString}")

  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    PHash64.compute(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val s = ctx.freshName("s"); val w = ctx.freshName("w")
      val c = ctx.freshName("c"); val lo = ctx.freshName("lo")
      val hi = ctx.freshName("hi"); val t = ctx.freshName("t")
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val b = ctx.freshName("b"); val j = ctx.freshName("j")
      val ph = ctx.freshName("ph")
      // Inline loops (the SortedIntersectSize pattern): two tiny local
      // arrays per row, all long/int arithmetic, no boxing — stays
      // inside WholeStageCodegen.
      s"""
         |final int $n = $a.length;
         |final long[] $s = new long[72];
         |final int[] $w = new int[72];
         |for (int $c = 0; $c < 72; $c++) {
         |  final int $lo = (int) (((long) $c * $n) / 72L);
         |  final int $hi = (int) (((long) ($c + 1) * $n) / 72L);
         |  $w[$c] = $hi - $lo;
         |  long $t = 0L;
         |  for (int $i = $lo; $i < $hi; $i++) $t += ($a[$i] & 0xff);
         |  $s[$c] = $t;
         |}
         |long $ph = 0L;
         |for (int $b = 0; $b < 64; $b++) {
         |  final int $j = ($b / 8) * 9 + ($b % 8);
         |  if ($w[$j] > 0 && $w[$j + 1] > 0 &&
         |      $s[$j] * $w[$j + 1] > $s[$j + 1] * $w[$j]) $ph |= (1L << $b);
         |}
         |${ev.value} = $ph;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PHash64 =
    copy(child = newChild)

  override def prettyName: String = "phash64"
}

object PHash64 {
  /** Interpreted twin of the generated code (kept in lockstep —
    * PHashSpec law-checks eval == codegen on random payloads). */
  def compute(a: Array[Byte]): Long = {
    val n = a.length
    val s = new Array[Long](72)
    val w = new Array[Int](72)
    var c = 0
    while (c < 72) {
      val lo = ((c.toLong * n) / 72L).toInt
      val hi = (((c + 1).toLong * n) / 72L).toInt
      w(c) = hi - lo
      var t = 0L; var i = lo
      while (i < hi) { t += (a(i) & 0xff); i += 1 }
      s(c) = t; c += 1
    }
    var ph = 0L; var b = 0
    while (b < 64) {
      val j = (b / 8) * 9 + (b % 8)
      if (w(j) > 0 && w(j + 1) > 0 && s(j) * w(j + 1) > s(j + 1) * w(j))
        ph |= (1L << b)
      b += 1
    }
    ph
  }

  /** Column API. */
  def apply(payload: Column): Column =
    GraftSql.column(PHash64(GraftSql.expression(payload)))
}
