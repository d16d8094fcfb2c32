package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.catalyst.util.{GenericArrayData, TypeUtils}
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** A running-window kernel: an aggregate over a frame `ROWS BETWEEN
  * UNBOUNDED PRECEDING AND CURRENT ROW` sorted by a TIMESTAMP `ts`,
  * whose value at a row at time T covers the rows in
  * `(T − windowUs, T]` up to it. Each kernel keeps the rows it holds in
  * a [[SlidingWindow.Ring]]: a row first evicts the front entries at or
  * before `T − windowUs`, then adds itself, so per row the work is
  * amortized O(1) (O(log sub-keys) for [[SlidingSums]]) whatever the
  * window holds. A row with a null time is skipped. The values a
  * kernel compares (`ordered`) compare by Spark's own ordering for
  * their type — the ordering `max`, `min` and a sort use: NaN above
  * every double, decimals and strings by value.
  *
  * A kernel only ever adds rows, so it has no merge: a grouped
  * aggregation or any frame other than the running one is refused when
  * it tries to merge or serialize a buffer.
  */
abstract class RunningKernel[B] extends TypedImperativeAggregate[B] {
  def ts: Expression
  def windowUs: Long
  protected def ordered: Expression
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    import TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}
    if (ts.dataType != TimestampType)
      TypeCheckFailure(s"$prettyName needs a TIMESTAMP time, got ${ts.dataType.catalogString}")
    else if (windowUs <= 0)
      TypeCheckFailure(s"$prettyName needs a positive window, got $windowUs us")
    else if (TypeUtils.checkForOrderingExpr(ordered.dataType, prettyName).isFailure)
      TypeCheckFailure(s"$prettyName needs a key that max and min can order, got " +
        ordered.dataType.catalogString)
    else TypeCheckSuccess
  }

  @transient protected lazy val ordering = PhysicalDataType.ordering(ordered.dataType)

  /** Drops the entries at or before `t`. */
  protected def evictThrough(buf: B, t: Long): Unit
  /** Adds the row `input` at time `now`. */
  protected def add(buf: B, now: Long, input: InternalRow): Unit

  override def update(buf: B, input: InternalRow): B = {
    val t = ts.eval(input)
    if (t != null) {
      val now = t.asInstanceOf[Long]
      evictThrough(buf, now - windowUs)
      add(buf, now, input)
    }
    buf
  }

  private def runningOnly = new UnsupportedOperationException(
    s"$prettyName runs only over a running window frame (ROWS BETWEEN UNBOUNDED " +
      "PRECEDING AND CURRENT ROW): its buffer never merges")
  override def merge(a: B, b: B): B = throw runningOnly
  override def serialize(buf: B): Array[Byte] = throw runningOnly
  override def deserialize(bytes: Array[Byte]): B = throw runningOnly
}

/** The sliding MIN or MAX of `key`. The ring is a monotonic deque of
  * (ts, key): a row with a non-null key pops every back entry it ties
  * or beats and pushes a copy of itself, so the keys run strictly from
  * best to worst and the front is the extreme. A row with a null key
  * only evicts.
  */
case class SlidingExtreme(ts: Expression, key: Expression, windowUs: Long, min: Boolean,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends RunningKernel[SlidingWindow.Ring] with BinaryLike[Expression] {

  override def left: Expression = ts
  override def right: Expression = key
  override protected def ordered: Expression = key
  override def dataType: DataType = key.dataType
  override def prettyName: String = "sliding_extreme"

  // the kept back entry must beat a new key strictly, or it is popped
  private def beats(kept: Any, k: Any): Boolean =
    if (min) ordering.lt(kept, k) else ordering.gt(kept, k)

  override def createAggregationBuffer(): SlidingWindow.Ring = new SlidingWindow.Ring

  override protected def evictThrough(buf: SlidingWindow.Ring, t: Long): Unit =
    while (!buf.isEmpty && buf.frontTime <= t) buf.popFront()

  override protected def add(buf: SlidingWindow.Ring, now: Long, input: InternalRow): Unit = {
    val k = key.eval(input)
    if (k != null) {
      while (!buf.isEmpty && !beats(buf.back, k)) buf.popBack()
      buf.push(now, SlidingWindow.copy(k))
    }
  }

  override def eval(buf: SlidingWindow.Ring): Any = if (buf.isEmpty) null else buf.front

  override def withNewMutableAggBufferOffset(offset: Int): SlidingExtreme =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): SlidingExtreme =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SlidingExtreme =
    copy(ts = newLeft, key = newRight)
}

/** The sliding COUNT and exact SUM of `measure`, per `subKey`, over the
  * rows where `keep` holds (subtract-on-evict: Tangwongsan et al.,
  * "General Incremental Sliding-Window Aggregation", VLDB 2015). The
  * ring is a FIFO of the kept rows in the window. Each sub-key with a
  * kept row there has a [[SlidingWindow.Cell]]: its kept rows, its
  * non-null measures `n`, and their sum `s`, which only an integral
  * (byte, short, int, long) measure adds to. A row adds on push and
  * subtracts on evict, so after each row every cell holds a window's
  * own sum, never a running total. The sum is kept in 128 bits, so no
  * order of adds and evicts among rows that tie on `ts` can overflow
  * it. A sub-key leaves with its last row.
  *
  * Only a row where `pair` holds reads the state: it evaluates to the
  * cells as `(k, n, s)` sorted by sub-key, or null when no kept row is
  * in the window. Every other row evaluates to null. A pair's window
  * whose sum passes the long range is refused, naming `label`; so is
  * a kept row with a null sub-key in it, naming `label` and the
  * `groupBy` expression: a map cannot hold a null key.
  */
case class SlidingSums(ts: Expression, pair: Expression, keep: Expression,
    subKey: Expression, measure: Expression, windowUs: Long, label: String, groupBy: String,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends RunningKernel[SlidingWindow.Sums] {

  override def children: Seq[Expression] = Seq(ts, pair, keep, subKey, measure)
  override protected def ordered: Expression = subKey
  // n and s are nullable, as the bucket plan's values are
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("k", subKey.dataType, nullable = false),
    StructField("n", LongType), StructField("s", LongType))), containsNull = false)
  override def prettyName: String = "sliding_sums"

  override def checkInputDataTypes(): TypeCheckResult =
    if (pair.dataType != BooleanType || keep.dataType != BooleanType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName needs BOOLEAN pair and keep flags, got " +
        s"${pair.dataType.catalogString} and ${keep.dataType.catalogString}")
    else super.checkInputDataTypes()

  @transient private lazy val summed =
    Seq(ByteType, ShortType, IntegerType, LongType).contains(measure.dataType)

  override def createAggregationBuffer(): SlidingWindow.Sums = new SlidingWindow.Sums(ordering)

  override protected def evictThrough(buf: SlidingWindow.Sums, t: Long): Unit =
    while (!buf.fifo.isEmpty && buf.fifo.frontTime <= t) {
      val r = buf.fifo.popFront().asInstanceOf[SlidingWindow.Kept]
      val c = r.cell
      c.rows -= 1
      if (r.hasMeasure) {
        c.n -= 1
        c.subtract(r.m)
      }
      if (c.rows == 0 && (c ne buf.nullCell)) buf.cells.remove(c.key)
    }

  override protected def add(buf: SlidingWindow.Sums, now: Long, input: InternalRow): Unit = {
    buf.atPair = pair.eval(input) == true
    if (!buf.atPair && keep.eval(input) == true) {
      val key = subKey.eval(input)
      var c = if (key == null) buf.nullCell else buf.cells.get(key)
      if (c == null) {
        // one NaN and one zero, as Spark groups them
        c = new SlidingWindow.Cell(key match {
          case d: Double if d.isNaN => Double.NaN
          case d: Double if d == 0.0 => 0.0
          case f: Float if f.isNaN => Float.NaN
          case f: Float if f == 0.0f => 0.0f
          case other => SlidingWindow.copy(other)
        })
        buf.cells.put(c.key, c)
      }
      c.rows += 1
      val m = measure.eval(input)
      val v = if (m != null && summed) m.asInstanceOf[Number].longValue else 0L
      if (m != null) {
        c.n += 1
        c.add(v)
      }
      buf.fifo.push(now, new SlidingWindow.Kept(c, m != null, v))
    }
  }

  override def eval(buf: SlidingWindow.Sums): Any =
    if (!buf.atPair) null
    else if (buf.nullCell.rows > 0) throw new IllegalStateException(s"$label: group_by " +
      s"sub-key ($groupBy) is null in a window; a map cannot hold a null key; filter those " +
      "rows out or coalesce the sub-key")
    else if (buf.cells.isEmpty) null
    else new GenericArrayData(buf.cells.values.asScala.map { c =>
      if (!c.fits) throw new ArithmeticException(
        s"$label: a window's sum passes the long range; sliding sums are exact longs")
      InternalRow(c.key, c.n, c.s)
    }.toArray)

  override def withNewMutableAggBufferOffset(offset: Int): SlidingSums =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): SlidingSums =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): SlidingSums =
    copy(ts = c(0), pair = c(1), keep = c(2), subKey = c(3), measure = c(4))
}

object SlidingWindow {
  import org.apache.spark.sql.graft.ColumnBridge

  /** A ring buffer of (ts, item) entries, front to back. */
  final class Ring {
    private var times = new Array[Long](16)
    private var items = new Array[Any](16)
    private var head = 0
    private var n = 0
    private def slot(i: Int) = (head + i) & (times.length - 1)

    def isEmpty: Boolean = n == 0
    def frontTime: Long = times(head)
    def front: Any = items(head)
    def back: Any = items(slot(n - 1))

    def popFront(): Any = {
      val item = items(head)
      items(head) = null
      head = slot(1)
      n -= 1
      item
    }

    def popBack(): Unit = {
      n -= 1
      items(slot(n)) = null
    }

    def push(t: Long, item: Any): Unit = {
      if (n == times.length) {
        val (ts2, is2) = (new Array[Long](n * 2), new Array[Any](n * 2))
        for (i <- 0 until n) { ts2(i) = times(slot(i)); is2(i) = items(slot(i)) }
        times = ts2
        items = is2
        head = 0
      }
      val s = slot(n)
      times(s) = t
      items(s) = item
      n += 1
    }
  }

  /** A copy of a value that outlives its row: the frame's rows are
    * reused.
    */
  private[functions] def copy(v: Any): Any = v match {
    case d: Decimal => d.clone()
    case other => InternalRow.copyValue(other)
  }

  /** One sub-key's kept rows, non-null measures and their sum: the
    * two's-complement 128-bit integer `hi:s`, a long when it [[fits]].
    */
  final class Cell(val key: Any) {
    var rows, n, s, hi = 0L

    def add(v: Long): Unit = {
      val lo = s + v
      hi += (v >> 63) + (if (java.lang.Long.compareUnsigned(lo, s) < 0) 1 else 0)
      s = lo
    }

    def subtract(v: Long): Unit = {
      hi -= (v >> 63) + (if (java.lang.Long.compareUnsigned(s, v) < 0) 1 else 0)
      s -= v
    }

    def fits: Boolean = hi == s >> 63
  }

  /** A kept row in the FIFO: its sub-key's cell and its measure. */
  final class Kept(val cell: Cell, val hasMeasure: Boolean, val m: Long)

  /** [[SlidingSums]]' state: the FIFO of kept rows, the cells of their
    * sub-keys in sub-key order (a null sub-key's apart), and whether
    * the last row was a pair.
    */
  final class Sums(ordering: Ordering[Any]) {
    val fifo = new Ring
    val cells = new java.util.TreeMap[Any, Cell](ordering)
    val nullCell = new Cell(null)
    var atPair = false
  }

  /** Column API: the sliding MIN (`min`) or MAX of `key` over the last
    * `windowUs` microseconds of `ts`, to be taken `.over` a running
    * window frame sorted by `ts`.
    */
  def slidingExtreme(ts: Column, key: Column, windowUs: Long, min: Boolean): Column =
    kernel(SlidingExtreme(ColumnBridge.expression(ts), ColumnBridge.expression(key),
      windowUs, min))

  /** Column API: the sliding per-`subKey` counts and sums of `measure`
    * over the last `windowUs` microseconds of `ts`, read on `pair` rows,
    * to be taken `.over` a running window frame sorted by `ts`.
    */
  def slidingSums(ts: Column, pair: Column, keep: Column, subKey: Column, measure: Column,
      windowUs: Long, label: String, groupBy: String): Column = {
    val Seq(t, p, k, g, m) = Seq(ts, pair, keep, subKey, measure).map(ColumnBridge.expression)
    kernel(SlidingSums(t, p, k, g, m, windowUs, label, groupBy))
  }

  private def kernel(k: RunningKernel[_]): Column = ColumnBridge.column(k.toAggregateExpression())
}
