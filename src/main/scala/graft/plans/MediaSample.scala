package graft.plans

import org.apache.spark.sql.{Column, GraftSql}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd byte-sampling kernels for the media tier (q110
  * resize / q111 frame-sample), replacing the
  * interpreted `transform`/`aggregate` HOF folds, per the engine's
  * stated HOF policy (the PHash64 pattern: inline int/long loops, no
  * boxing, no per-row lambda dispatch, stays inside WholeStageCodegen).
  *
  * Both kernels read the payload as RAW BYTES (the decodeStub / ASCII
  * identity contract shared with [[PHash64]]: the corpus is pure ASCII,
  * so byte == codepoint and these sample exactly the grid the previous
  * `ascii(substring(...))` columns did). Out-of-range sample positions
  * read as 0 — callers derive their grid bounds from `length div w`, so
  * in-contract inputs never hit the guard; it exists so a misused
  * Column can't throw from generated code.
  */
object MediaSample {

  /** Column API: `thumb8x6(payload, w, hEff)` →
    * `struct<thumb: string, thumb_sum: bigint>` — the 8×6
    * nearest-neighbor thumbnail as a comma-joined decimal string plus
    * its exact integer byte sum, one pass. */
  def thumb8x6(payload: Column, w: Column, hEff: Column): Column =
    GraftSql.column(Thumb8x6(
      GraftSql.expression(payload),
      GraftSql.expression(w),
      GraftSql.expression(hEff)))

  /** Column API: `byteSliceSum(payload, start, count)` → exact sum of
    * the `count` unsigned bytes at 0-based `start` (out-of-range
    * positions contribute 0). */
  def byteSliceSum(payload: Column, start: Column, count: Column): Column =
    GraftSql.column(ByteSliceSum(
      GraftSql.expression(payload),
      GraftSql.expression(start),
      GraftSql.expression(count)))

  /** Interpreted twin of [[Thumb8x6]]'s generated loop (kept in
    * lockstep — MediaOpsSpec law-checks eval == codegen). */
  def computeThumb(data: Array[Byte], w: Long, hEff: Long): (String, Long) = {
    val sb = new java.lang.StringBuilder(192)
    var sum = 0L
    var i = 0
    while (i < 48) {
      val idx = (((i / 8).toLong * hEff) / 6L) * w + ((i % 8).toLong * w) / 8L
      val v = if (idx >= 0L && idx < data.length.toLong) data(idx.toInt) & 0xff else 0
      if (i > 0) sb.append(',')
      sb.append(v)
      sum += v
      i += 1
    }
    (sb.toString, sum)
  }

  /** Interpreted twin of [[ByteSliceSum]]'s generated loop. */
  def computeSliceSum(data: Array[Byte], start: Long, count: Long): Long = {
    var sum = 0L
    var p = 0L
    while (p < count) {
      val idx = start + p
      if (idx >= 0L && idx < data.length.toLong) sum += data(idx.toInt) & 0xff
      p += 1
    }
    sum
  }
}

/** `thumb8x6(payload, w, hEff)`: nearest-neighbor 8×6 resample of a
  * `w`-wide row-major byte grid with `hEff` complete rows —
  * out[y][x] = byte[((y·hEff) div 6)·w + (x·w) div 8] — emitted as
  * `struct<thumb: string, thumb_sum: bigint>` in ONE inline loop
  * (previously: a 48-element `transform` + `array_join` + `aggregate`
  * HOF chain, three interpreted lambda walks per row). */
case class Thumb8x6(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (first.dataType == BinaryType && second.dataType == LongType &&
      third.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"thumb8x6 expects (binary, bigint, bigint), got " +
          s"(${first.dataType.simpleString}, ${second.dataType.simpleString}, " +
          s"${third.dataType.simpleString})")

  override def dataType: DataType = StructType(Seq(
    StructField("thumb", StringType, nullable = false),
    StructField("thumb_sum", LongType, nullable = false)))

  override def nullIntolerant: Boolean = true

  override def nullSafeEval(data: Any, w: Any, h: Any): Any = {
    val (thumb, sum) = MediaSample.computeThumb(
      data.asInstanceOf[Array[Byte]], w.asInstanceOf[Long], h.asInstanceOf[Long])
    new GenericInternalRow(Array[Any](UTF8String.fromString(thumb), sum))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (data, w, h) => {
      val n = ctx.freshName("n"); val sb = ctx.freshName("sb")
      val sum = ctx.freshName("sum"); val i = ctx.freshName("i")
      val idx = ctx.freshName("idx"); val v = ctx.freshName("v")
      val rowCls = classOf[GenericInternalRow].getName
      s"""
         |final int $n = $data.length;
         |final java.lang.StringBuilder $sb = new java.lang.StringBuilder(192);
         |long $sum = 0L;
         |for (int $i = 0; $i < 48; $i++) {
         |  final long $idx = ((($i / 8) * $h) / 6L) * $w + (($i % 8) * $w) / 8L;
         |  final int $v = ($idx >= 0L && $idx < (long) $n)
         |    ? ($data[(int) $idx] & 0xff) : 0;
         |  if ($i > 0) $sb.append(',');
         |  $sb.append($v);
         |  $sum += $v;
         |}
         |${ev.value} = new $rowCls(new Object[] {
         |  org.apache.spark.unsafe.types.UTF8String.fromString($sb.toString()),
         |  (Object) java.lang.Long.valueOf($sum) });
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Thumb8x6 =
    copy(first = newFirst, second = newSecond, third = newThird)

  override def prettyName: String = "thumb8x6"
}

/** `byte_slice_sum(payload, start, count)`: exact sum of `count`
  * unsigned bytes at 0-based offset `start` (q111's per-frame
  * statistic; previously a `transform` + `aggregate` fold over a
  * materialized per-row index sequence). */
case class ByteSliceSum(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (first.dataType == BinaryType && second.dataType == LongType &&
      third.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"byte_slice_sum expects (binary, bigint, bigint), got " +
          s"(${first.dataType.simpleString}, ${second.dataType.simpleString}, " +
          s"${third.dataType.simpleString})")

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(data: Any, start: Any, count: Any): Any =
    MediaSample.computeSliceSum(data.asInstanceOf[Array[Byte]],
      start.asInstanceOf[Long], count.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (data, start, count) => {
      val n = ctx.freshName("n"); val sum = ctx.freshName("sum")
      val p = ctx.freshName("p"); val idx = ctx.freshName("idx")
      s"""
         |final int $n = $data.length;
         |long $sum = 0L;
         |for (long $p = 0L; $p < $count; $p++) {
         |  final long $idx = $start + $p;
         |  if ($idx >= 0L && $idx < (long) $n) $sum += ($data[(int) $idx] & 0xff);
         |}
         |${ev.value} = $sum;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): ByteSliceSum =
    copy(first = newFirst, second = newSecond, third = newThird)

  override def prettyName: String = "byte_slice_sum"
}
