package graft

import graft.functions.SlidingExtreme

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The sliding MIN/MAX kernel's refusals: a key `max` cannot order is
  * refused at analysis by type, and a buffer is never merged — the
  * kernel runs only over a running window frame.
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
      df.select(SlidingExtreme.slidingExtreme($"t", $"m", 10L, min = false).over(running)))
    assert(e.getMessage.contains("sliding_extreme") && e.getMessage.contains("map<string,int>"),
      e.getMessage)
  }

  test("merge is refused: the kernel runs only over a running frame") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val kernel = SlidingExtreme(Literal(0L), Literal(1), 10L, min = true)
    val e = intercept[UnsupportedOperationException](
      kernel.merge(kernel.createAggregationBuffer(), kernel.createAggregationBuffer()))
    assert(e.getMessage.contains("running window frame"), e.getMessage)
    // a grouped aggregation, whose partial buffers would merge, fails
    // by the same message
    val g = intercept[Exception](Seq((1L, 1), (2L, 2)).toDF("t", "v")
      .agg(SlidingExtreme.slidingExtreme(timestamp_micros($"t"), $"v", 10L, min = false))
      .collect())
    assert(causes(g).contains("running window frame"), causes(g))
  }
}
