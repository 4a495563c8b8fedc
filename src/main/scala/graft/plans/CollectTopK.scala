package graft.plans

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import org.apache.spark.sql.{Column, DataFrame, GraftSql, RelationalGroupedDataset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.{col, lit, posexplode, try_element_at}
import org.apache.spark.sql.types._
import scala.collection.mutable

/** Bounded top-k as a custom Catalyst aggregate (SURVEY.md §2.10 X2).
  *
  * Keeps the k best (score, id) pairs — ordered by score desc, id asc —
  * in a k-sized heap per group, with map-side PARTIAL aggregation: each
  * input partition reduces to at most one k-heap per group before the
  * exchange, so a kNN over N vectors and Q queries shuffles Q·P·k tiny
  * rows instead of the N·Q score matrix a ranking window would move.
  * This is the operator Spark's built-ins lack (row_number+filter must
  * shuffle every scored row); the engine plans it as
  * ObjectHashAggregate(partial) → exchange → ObjectHashAggregate(final).
  *
  * Determinism contract matches the window formulation and the DuckDB
  * oracle: ties on score break on ascending id; null scores/ids are
  * skipped (a null cosine = zero vector, which cannot rank).
  */
case class CollectTopK(
    score: Expression,
    id: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.PriorityQueue[(Double, Long)]] {

  require(k > 0, "collect_topk requires k > 0")

  override def children: Seq[Expression] = Seq(score, id)
  override def nullable: Boolean = false
  override def dataType: DataType = CollectTopK.ResultType

  /** Heap ordering where the MAX (head) is the WORST kept pair: lowest
    * score first, then largest id — so dequeue evicts the right element. */
  private def ord: Ordering[(Double, Long)] =
    Ordering.by { case (s, i) => (-s, i) }

  override def createAggregationBuffer(): mutable.PriorityQueue[(Double, Long)] =
    mutable.PriorityQueue.empty[(Double, Long)](ord)

  private def offer(buf: mutable.PriorityQueue[(Double, Long)],
                    e: (Double, Long)): Unit =
    if (buf.size < k) buf += e
    else if (ord.lt(e, buf.head)) { buf.dequeue(); buf += e }

  override def update(buf: mutable.PriorityQueue[(Double, Long)],
                      input: InternalRow): mutable.PriorityQueue[(Double, Long)] = {
    val s = score.eval(input)
    val i = id.eval(input)
    if (s != null && i != null) offer(buf, (s.asInstanceOf[Double], i.asInstanceOf[Long]))
    buf
  }

  override def merge(buf: mutable.PriorityQueue[(Double, Long)],
                     other: mutable.PriorityQueue[(Double, Long)]): mutable.PriorityQueue[(Double, Long)] = {
    other.foreach(offer(buf, _))
    buf
  }

  override def eval(buf: mutable.PriorityQueue[(Double, Long)]): Any =
    new GenericArrayData(buf.toSeq
      .sortBy { case (s, i) => (-s, i) } // best-first: score desc, id asc
      .map { case (s, i) => InternalRow(s, i) })

  override def serialize(buf: mutable.PriorityQueue[(Double, Long)]): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    out.writeInt(buf.size)
    buf.foreach { case (s, i) => out.writeDouble(s); out.writeLong(i) }
    out.flush()
    bytes.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.PriorityQueue[(Double, Long)] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = createAggregationBuffer()
    val n = in.readInt()
    var j = 0
    while (j < n) { buf += ((in.readDouble(), in.readLong())); j += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CollectTopK =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CollectTopK =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): CollectTopK =
    copy(score = newChildren(0), id = newChildren(1))

  override def prettyName: String = "collect_topk"
}

object CollectTopK {
  private val ResultType: DataType = ArrayType(StructType(Seq(
    StructField("sim", DoubleType), StructField("vec_id", LongType))),
    containsNull = false)

  /** `collect_topk(score, id, k)` → array<struct<sim,vec_id>> sorted
    * best-first. Only [[ranked]] and [[kth]] read that layout. */
  private def topk(score: Column, id: Column, k: Int): Column =
    GraftSql.column(
      CollectTopK(GraftSql.expression(score), GraftSql.expression(id), k)
        .toAggregateExpression())

  /** Each group of `g` reduced to its k best `(score, id)` pairs, as
    * ranked rows `(keys…, aggs…, idAs, scoreAs, rn)`: best-first, ties on
    * ascending id, `rn` a 1-based long. `smallest` ranks the lowest score
    * first (a distance): the heap keeps the negated score and each row
    * carries it with the sign restored. `aggs` are further aggregates
    * over the same groups, computed in the same aggregate, so they share
    * its exchange. A group whose scores are all null yields no row. */
  def ranked(g: RelationalGroupedDataset, score: Column, id: Column, k: Int,
      idAs: String, scoreAs: String, smallest: Boolean = false,
      aggs: Seq[Column] = Nil): DataFrame = {
    def signed(c: Column): Column = if (smallest) -c else c
    val all = aggs :+ CollectTopK.topk(signed(score), id, k).as("topk_heap")
    val grouped = g.agg(all.head, all.tail: _*)
    val keep = grouped.columns.toSeq.filterNot(_ == "topk_heap").map(col)
    grouped.select(keep :+ posexplode(col("topk_heap")).as(Seq("topk_pos", "topk_pair")): _*)
      .select(keep ++ Seq(col("topk_pair.vec_id").as(idAs),
        signed(col("topk_pair.sim")).as(scoreAs),
        (col("topk_pos") + 1).cast("long").as("rn")): _*)
  }

  /** The score of each group's k-th best `(score, id)` pair, null when
    * the group holds fewer than k: an aggregate for [[ranked]]'s `aggs`.
    * Beside a `ranked` call with the same score, id and k it reads that
    * call's heap, since Spark plans equal aggregates once. */
  def kth(score: Column, id: Column, k: Int): Column =
    try_element_at(CollectTopK.topk(score, id, k), lit(k)).getField("sim")
}
