package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.types.{DataType, Decimal, TimestampType}

/** The MIN or MAX of `key` over the rows of the last `windowUs`
  * microseconds, as a running aggregate: over a frame `ROWS BETWEEN
  * UNBOUNDED PRECEDING AND CURRENT ROW` sorted by `ts`, the value at a
  * row at time T is the extreme of the keys of the rows in
  * `(T − windowUs, T]` up to it.
  *
  * The buffer is a monotonic deque of (ts, key): each row first evicts
  * the front entries at or before `T − windowUs`; a row with a non-null
  * key then pops every back entry it ties or beats and pushes itself, so
  * the keys run strictly from best to worst and the front is the
  * extreme. A row with a null key only evicts, and a row with a null
  * time is skipped. Per row that is amortized O(1) work, whatever the
  * window holds. Keys compare by Spark's own ordering for their type
  * (the ordering `max` and `min` use: NaN above every double, decimals
  * and strings by value); each kept key is copied, since the frame's
  * rows are reused.
  *
  * The kernel only ever adds rows, so it has no merge: a grouped
  * aggregation or any frame other than the running one is refused when
  * it tries to merge or serialize a buffer.
  */
case class SlidingExtreme(ts: Expression, key: Expression, windowUs: Long, min: Boolean,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[SlidingExtreme.Deque] with BinaryLike[Expression] {

  override def left: Expression = ts
  override def right: Expression = key
  override def nullable: Boolean = true
  override def dataType: DataType = key.dataType
  override def prettyName: String = "sliding_extreme"

  override def checkInputDataTypes(): TypeCheckResult = {
    import TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}
    if (ts.dataType != TimestampType)
      TypeCheckFailure(s"$prettyName needs a TIMESTAMP time, got ${ts.dataType.catalogString}")
    else if (windowUs <= 0)
      TypeCheckFailure(s"$prettyName needs a positive window, got $windowUs us")
    else if (TypeUtils.checkForOrderingExpr(key.dataType, prettyName).isFailure)
      TypeCheckFailure(s"$prettyName needs a key that max and min can order, got " +
        key.dataType.catalogString)
    else TypeCheckSuccess
  }

  @transient private lazy val ordering = PhysicalDataType.ordering(key.dataType)
  // the kept back entry must beat a new key strictly, or it is popped
  private def beats(kept: Any, k: Any): Boolean = {
    val c = ordering.compare(kept, k)
    if (min) c < 0 else c > 0
  }

  override def createAggregationBuffer(): SlidingExtreme.Deque = new SlidingExtreme.Deque

  override def update(buf: SlidingExtreme.Deque, input: InternalRow): SlidingExtreme.Deque = {
    val t = ts.eval(input)
    if (t != null) {
      val now = t.asInstanceOf[Long]
      buf.evictThrough(now - windowUs)
      val k = key.eval(input)
      if (k != null) {
        while (!buf.isEmpty && !beats(buf.back, k)) buf.popBack()
        buf.push(now, k match {
          case d: Decimal => d.clone()
          case other => InternalRow.copyValue(other)
        })
      }
    }
    buf
  }

  override def eval(buf: SlidingExtreme.Deque): Any = buf.front

  private def runningOnly = new UnsupportedOperationException(
    s"$prettyName runs only over a running window frame (ROWS BETWEEN UNBOUNDED " +
      "PRECEDING AND CURRENT ROW): its buffer never merges")
  override def merge(a: SlidingExtreme.Deque, b: SlidingExtreme.Deque): SlidingExtreme.Deque =
    throw runningOnly
  override def serialize(buf: SlidingExtreme.Deque): Array[Byte] = throw runningOnly
  override def deserialize(bytes: Array[Byte]): SlidingExtreme.Deque = throw runningOnly

  override def withNewMutableAggBufferOffset(offset: Int): SlidingExtreme =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): SlidingExtreme =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SlidingExtreme =
    copy(ts = newLeft, key = newRight)
}

object SlidingExtreme {
  import org.apache.spark.sql.graft.ColumnBridge

  /** A ring buffer of (ts, key) entries, front to back. */
  final class Deque {
    private var times = new Array[Long](16)
    private var keys = new Array[Any](16)
    private var head = 0
    private var n = 0
    private def slot(i: Int) = (head + i) & (times.length - 1)

    def isEmpty: Boolean = n == 0
    def front: Any = if (n == 0) null else keys(head)
    def back: Any = keys(slot(n - 1))

    def popBack(): Unit = {
      keys(slot(n - 1)) = null
      n -= 1
    }

    /** Drops the front entries at or before `t`. */
    def evictThrough(t: Long): Unit =
      while (n > 0 && times(head) <= t) {
        keys(head) = null
        head = slot(1)
        n -= 1
      }

    def push(t: Long, k: Any): Unit = {
      if (n == times.length) {
        val (ts2, ks2) = (new Array[Long](n * 2), new Array[Any](n * 2))
        for (i <- 0 until n) { ts2(i) = times(slot(i)); ks2(i) = keys(slot(i)) }
        times = ts2
        keys = ks2
        head = 0
      }
      val s = slot(n)
      times(s) = t
      keys(s) = k
      n += 1
    }
  }

  /** Column API: the sliding MIN (`min`) or MAX of `key` over the last
    * `windowUs` microseconds of `ts`, to be taken `.over` a running
    * window frame sorted by `ts`.
    */
  def slidingExtreme(ts: Column, key: Column, windowUs: Long, min: Boolean): Column =
    ColumnBridge.column(SlidingExtreme(ColumnBridge.expression(ts),
      ColumnBridge.expression(key), windowUs, min).toAggregateExpression())
}
