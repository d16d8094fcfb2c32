package graft

import graft.functions.{SlidingSums, SlidingWindow}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, LongType, StringType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** The running-window kernels. The sliding MIN/MAX kernel's refusals: a
  * key `max` cannot order is refused at analysis by type, and a buffer
  * is never merged — the kernels run only over a running window frame.
  * The sliding sums kernel, driven row by row: its eviction edge, what
  * a kept row, a null measure and a dropped row add, its sub-key map,
  * tied rows near the long bounds, and its refusal of a read sum past
  * the long range.
  */
class SlidingExtremeSpec extends SparkTestBase {
  import spark.implicits._

  private def causes(e: Throwable) = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
    .map(_.getMessage).mkString(" | ")

  test("a key max cannot order (a map) is refused at analysis, naming its type") {
    val running = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    val df = Seq((1L, 1), (2L, 2)).toDF("t", "v")
      .select(timestamp_micros($"t").as("t"), map(lit("k"), $"v").as("m"))
    val e = intercept[org.apache.spark.sql.AnalysisException](
      df.select(SlidingWindow.slidingExtreme($"t", $"m", 10L, min = false).over(running)))
    assert(e.getMessage.contains("sliding_extreme") && e.getMessage.contains("map<string,int>"),
      e.getMessage)
  }

  test("merge is refused: the kernel runs only over a running frame") {
    import graft.functions.SlidingExtreme
    val kernel = SlidingExtreme(Literal(0L), Literal(1), 10L, min = true)
    val e = intercept[UnsupportedOperationException](
      kernel.merge(kernel.createAggregationBuffer(), kernel.createAggregationBuffer()))
    assert(e.getMessage.contains("running window frame"), e.getMessage)
    // a grouped aggregation, whose partial buffers would merge, fails
    // by the same message
    val g = intercept[Exception](Seq((1L, 1), (2L, 2)).toDF("t", "v")
      .agg(SlidingWindow.slidingExtreme(timestamp_micros($"t"), $"v", 10L, min = false))
      .collect())
    assert(causes(g).contains("running window frame"), causes(g))
  }

  // (time, pair row, kept, sub-key, measure) rows through one sliding
  // sums kernel of window `w`; each row's value as (sub-key, n, s)
  private def sums(w: Long, rows: (Long, Boolean, Boolean, String, Any)*) = {
    val k = SlidingSums(BoundReference(0, TimestampType, true), BoundReference(1, BooleanType,
      true), BoundReference(2, BooleanType, true), BoundReference(3, StringType, true),
      BoundReference(4, LongType, true), w, "anchor a: feature f_sum", "g")
    val buf = k.createAggregationBuffer()
    rows.map { case (t, pair, keep, g, m) =>
      Option(k.eval(k.update(buf, InternalRow(t, pair, keep, UTF8String.fromString(g), m))))
        .map { v =>
          val a = v.asInstanceOf[ArrayData]
          (0 until a.numElements).map { i =>
            val c = a.getStruct(i, 3)
            (c.getUTF8String(0).toString, c.getLong(1), c.getLong(2))
          }
        }
    }
  }

  test("sliding sums: a row at exactly T − W is evicted; source rows read null") {
    val out = sums(10L, (0L, false, true, "a", 5L), (9L, true, false, null, null),
      (10L, true, false, null, null))
    assert(out == Seq(None, Some(Seq(("a", 1L, 5L))), None), out)
  }

  test("sliding sums: a null measure is a kept row but not toward n; a dropped row adds nothing") {
    val out = sums(10L, (1L, false, true, "a", null), (2L, false, false, "b", 7L),
      (3L, true, false, null, null), (4L, false, true, "a", 3L), (5L, true, false, null, null))
    assert(out == Seq(None, None, Some(Seq(("a", 0L, 0L))), None, Some(Seq(("a", 1L, 3L)))), out)
  }

  test("sliding sums: a sub-key leaves with its last row; sub-keys come out sorted") {
    val out = sums(10L, (1L, false, true, "c", 1L), (2L, false, true, "a", 2L),
      (3L, false, true, "b", 3L), (4L, false, true, "c", 4L), (5L, true, false, null, null),
      (12L, true, false, null, null), (14L, true, false, null, null))
    assert(out.drop(4) == Seq(Some(Seq(("a", 1L, 2L), ("b", 1L, 3L), ("c", 2L, 5L))),
      Some(Seq(("b", 1L, 3L), ("c", 1L, 4L))), None), out)
  }

  test("sliding sums: an in-window sum past Long.MaxValue is refused by name") {
    val fits = sums(10L, (1L, false, true, "a", Long.MaxValue), (11L, false, true, "a", 1L),
      (12L, true, false, null, null))
    assert(fits.last == Some(Seq(("a", 1L, 1L))), fits)
    // only a pair that reads the window refuses it
    val unread = sums(10L, (1L, false, true, "a", Long.MaxValue), (2L, false, true, "a", 1L))
    assert(unread == Seq(None, None), unread)
    for (big <- Seq(Long.MaxValue, Long.MinValue)) {
      val e = intercept[ArithmeticException](sums(10L, (1L, false, true, "a", big),
        (2L, false, true, "a", big), (3L, true, false, null, null)))
      assert(e.getMessage.contains("anchor a: feature f_sum") &&
        e.getMessage.contains("long range"), e.getMessage)
    }
  }

  test("sliding sums: rows that tie on ts add and evict in any order near the long bounds") {
    val M = Long.MaxValue
    // every order of three tied rows whose sum fits though a partial
    // sum may not, read at T and evicted before a later row
    for (tied <- Seq(Seq(M, 1L, -2L), Seq(Long.MinValue, -1L, 2L), Seq(M, M, -M, -10L))
        .flatMap(_.permutations)) {
      val later = if (tied.sum > 0) -5L else 5L
      val out = sums(10L, tied.map(v => (1L, false, true, "a", v: Any)) ++ Seq(
        (1L, true, false, null, null), (5L, false, true, "a", later),
        (5L, true, false, null, null), (11L, true, false, null, null)): _*)
      assert(out.flatten == Seq(Seq(("a", tied.size.toLong, tied.sum)),
        Seq(("a", tied.size + 1L, tied.sum + later)), Seq(("a", 1L, later))),
        s"$tied: $out")
    }
  }

  test("sliding sums: a keep flag that is not BOOLEAN is refused at analysis") {
    val ts = BoundReference(0, TimestampType, true)
    val e = intercept[org.apache.spark.sql.AnalysisException](
      Seq((1L, 1)).toDF("t", "v").select(timestamp_micros($"t").as("t"), $"v")
        .select(SlidingWindow.slidingSums($"t", lit(false), $"v", lit(0), $"v", 10L,
          "anchor a: feature f", "").over(Window.orderBy("t")
          .rowsBetween(Window.unboundedPreceding, 0))))
    assert(e.getMessage.contains("sliding_sums needs BOOLEAN pair and keep flags"), e.getMessage)
    assert(SlidingSums(ts, Literal(true), Literal(true), Literal(0), Literal(1L), 10L, "l", "")
      .checkInputDataTypes().isSuccess)
  }

  test("sliding sums: merge and serialize are refused: the kernel runs only over a running frame") {
    val kernel = SlidingSums(Literal(0L), Literal(true), Literal(true), Literal(1), Literal(1L),
      10L, "anchor a: feature f", "")
    for (refused <- Seq[() => Any](
        () => kernel.merge(kernel.createAggregationBuffer(), kernel.createAggregationBuffer()),
        () => kernel.serialize(kernel.createAggregationBuffer()))) {
      val e = intercept[UnsupportedOperationException](refused())
      assert(e.getMessage.contains("sliding_sums runs only over a running window frame"),
        e.getMessage)
    }
  }
}
