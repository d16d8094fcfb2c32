package graft

import graft.operators.{IncrementalSwa, Publish, Spill}
import graft.operators.IncrementalSwa.Config

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class IncrementalSwaSpec extends SparkTestBase {
  import spark.implicits._

  private val DayUs = 86400000000L
  private val cfg = Config(Seq("k"), "ts", "v", DayUs)

  /** events on day d (0-based from the epoch) at hour h */
  private def ev(rows: (Long, Int, Int, Double)*): DataFrame =
    rows.toDF("k", "d", "h", "v")
      .withColumn("ts",
        timestamp_micros(col("d") * DayUs + col("h") * 3600000000L))
      .select("k", "ts", "v")

  private def multiset(df: DataFrame): Map[String, Int] =
    df.collect().map(_.toString).groupBy(identity).view.mapValues(_.length).toMap

  /** the batch oracle: one pass over all events */
  private def batch(all: DataFrame, asOfUs: Long, w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val in = all.withColumn("us", unix_micros(col("ts")))
      .where(col("us") >= asOfUs - w * DayUs && col("us") < asOfUs)
    val agg = in.groupBy("k")
      .agg(
        (sum(round(col("v") * 100).cast("long")) / 100.0).as("f_sum"),
        count("v").as("f_cnt"),
        (sum(round(col("v") * 100).cast("long")) / 100.0 / count("v")).as("f_avg"),
        min("v").as("f_min"), max("v").as("f_max"))
    val latest = in.withColumn("__rn", row_number().over(
        Window.partitionBy("k").orderBy(col("us").desc, col("v").desc)))
      .where(col("__rn") === 1).select(col("k"), col("v").as("f_latest"))
    agg.join(latest, Seq("k"))
      .select("k", "f_sum", "f_cnt", "f_avg", "f_min", "f_max", "f_latest")
  }

  private val d0 = ev((1L, 0, 1, 1.5), (1L, 0, 9, 2.25), (2L, 0, 3, 10.0))
  private val d1 = ev((1L, 1, 2, 4.0), (2L, 1, 5, 0.5), (3L, 1, 7, 7.0))
  private val d2 = ev((1L, 2, 4, 8.0), (3L, 2, 6, 1.0))

  private def ingestAll(dir: String, deltas: Seq[DataFrame]): Unit =
    deltas.zipWithIndex.foreach { case (d, i) =>
      IncrementalSwa.ingest(d, dir, cfg, i.toLong)
    }

  test("incremental serve equals the batch recompute at every boundary") {
    val dir = Spill.newPath(spark)
    ingestAll(dir, Seq(d0, d1, d2))
    val all = d0.unionByName(d1).unionByName(d2)
    for (day <- 1 to 3; w <- Seq(1, 2, 3)) {
      val asOf = day * DayUs
      assert(multiset(IncrementalSwa.serve(spark, dir, cfg, asOf, w)) ==
        multiset(batch(all, asOf, w)), s"asOf day $day window $w")
    }
  }

  test("serveDaily row at bucket b equals serve at boundary (b+1)·B") {
    val dir = Spill.newPath(spark)
    ingestAll(dir, Seq(d0, d1, d2))
    val daily = IncrementalSwa.serveDaily(spark, dir, cfg, 2)
    for (b <- 0L to 2L) {
      val atB = daily.where(col("bucket") === b).drop("bucket")
      val served = IncrementalSwa.serve(spark, dir, cfg, (b + 1) * DayUs, 2)
      assert(multiset(atB) == multiset(served), s"bucket $b")
    }
  }

  test("late-arriving correction: one more version, every serve exact") {
    val dir = Spill.newPath(spark)
    // day-1 data arrives AFTER day 2 was ingested
    IncrementalSwa.ingest(d0, dir, cfg, 0L)
    IncrementalSwa.ingest(d2, dir, cfg, 1L)
    IncrementalSwa.ingest(d1, dir, cfg, 2L)
    val all = d0.unionByName(d1).unionByName(d2)
    assert(multiset(IncrementalSwa.serve(spark, dir, cfg, 3 * DayUs, 3)) ==
      multiset(batch(all, 3 * DayUs, 3)))
  }

  test("replayed version overwrites itself — at-least-once is idempotent") {
    val dir = Spill.newPath(spark)
    ingestAll(dir, Seq(d0, d1))
    IncrementalSwa.ingest(d1, dir, cfg, 1L) // replay
    val all = d0.unionByName(d1)
    assert(multiset(IncrementalSwa.serve(spark, dir, cfg, 2 * DayUs, 2)) ==
      multiset(batch(all, 2 * DayUs, 2)))
  }

  test("serveAsOf excludes later versions (backfill reproducibility)") {
    val dir = Spill.newPath(spark)
    ingestAll(dir, Seq(d0, d1, d2))
    val v1 = IncrementalSwa.serveAsOf(spark, dir, cfg, 2 * DayUs, 2, 1L)
    assert(multiset(v1) ==
      multiset(batch(d0.unionByName(d1), 2 * DayUs, 2)))
  }

  test("compact folds to one version in a new generation; serves unchanged") {
    val dir = Spill.newPath(spark)
    ingestAll(dir, Seq(d0, d1, d2))
    val before = multiset(IncrementalSwa.serve(spark, dir, cfg, 3 * DayUs, 3))
    val gen = IncrementalSwa.compact(spark, dir, cfg)
    assert(IncrementalSwa.versions(spark, dir) == Seq(2L))
    assert(IncrementalSwa.foldedThrough(spark, dir) == 2L)
    assert(Publish.current(spark, dir).contains(gen))
    assert(multiset(IncrementalSwa.serve(spark, dir, cfg, 3 * DayUs, 3)) == before)
    // ingests continue above the fold
    IncrementalSwa.ingest(ev((5L, 3, 1, 3.0)), dir, cfg, 3L)
    val all = d0.unionByName(d1).unionByName(d2)
      .unionByName(ev((5L, 3, 1, 3.0)))
    assert(multiset(IncrementalSwa.serve(spark, dir, cfg, 4 * DayUs, 4)) ==
      multiset(batch(all, 4 * DayUs, 4)))
  }

  test("compact refuses replays of rebased versions; serveAsOf refuses rebased history") {
    val dir = Spill.newPath(spark)
    ingestAll(dir, Seq(d0, d1))
    IncrementalSwa.compact(spark, dir, cfg)
    val e = intercept[IllegalArgumentException] {
      IncrementalSwa.ingest(d1, dir, cfg, 1L)
    }
    assert(e.getMessage.contains("fold"))
    val e2 = intercept[IllegalArgumentException] {
      IncrementalSwa.serveAsOf(spark, dir, cfg, 2 * DayUs, 2, 0L)
    }
    assert(e2.getMessage.contains("rebased"))
    // an empty as-of window is refused like every other serve's
    intercept[IllegalArgumentException] {
      IncrementalSwa.serveAsOf(spark, dir, cfg, 2 * DayUs, 0, 1L)
    }
  }

  test("a crash between fold and pointer flip leaves the old generation live") {
    val dir = Spill.newPath(spark)
    ingestAll(dir, Seq(d0, d1))
    val before = multiset(IncrementalSwa.serve(spark, dir, cfg, 2 * DayUs, 2))
    val g = Publish.current(spark, dir).get
    // simulate: fold data fully written in gen g+1, no commit marker
    val crashGen = Publish.genPath(dir, g + 1)
    spark.read.parquet(Publish.genPath(dir, g))
      .write.parquet(s"$crashGen/${IncrementalSwa.VCol}=1")
    assert(Publish.current(spark, dir).contains(g))
    assert(multiset(IncrementalSwa.serve(spark, dir, cfg, 2 * DayUs, 2)) == before)
    // the next compact reclaims the garbage and commits cleanly
    IncrementalSwa.compact(spark, dir, cfg)
    assert(multiset(IncrementalSwa.serve(spark, dir, cfg, 2 * DayUs, 2)) == before)
  }

  test("publish gc retains the reader horizon and never the live generation") {
    val dir = Spill.newPath(spark)
    ingestAll(dir, Seq(d0, d1))
    IncrementalSwa.compact(spark, dir, cfg)
    IncrementalSwa.ingest(d2, dir, cfg, 3L)
    IncrementalSwa.compact(spark, dir, cfg)
    assert(Publish.committed(spark, dir).size == 3)
    Publish.gc(spark, dir, keep = 1)
    val left = Publish.committed(spark, dir)
    assert(left.size == 1 && Publish.current(spark, dir).contains(left.head))
    val all = d0.unionByName(d1).unionByName(d2)
    assert(multiset(IncrementalSwa.serve(spark, dir, cfg, 3 * DayUs, 3)) ==
      multiset(batch(all, 3 * DayUs, 3)))
    intercept[IllegalArgumentException] { Publish.gc(spark, dir, keep = 0) }
  }

  test("gc crash recovery: an old marker whose data is already gone is retried") {
    val dir = Spill.newPath(spark)
    ingestAll(dir, Seq(d0, d1))
    IncrementalSwa.compact(spark, dir, cfg) // gens 0,1 committed
    val old = Publish.committed(spark, dir).head
    // simulate a gc that crashed after deleting gen data, before marker
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm)); f.delete()
    }
    rm(new java.io.File(Publish.genPath(dir, old)))
    assert(Publish.committed(spark, dir).contains(old)) // marker survives
    Publish.gc(spark, dir, keep = 1) // next pass retries and removes it
    assert(!Publish.committed(spark, dir).contains(old))
    assert(multiset(IncrementalSwa.serve(spark, dir, cfg, 2 * DayUs, 2)) ==
      multiset(batch(d0.unionByName(d1), 2 * DayUs, 2)))
  }

  test("serve pushes the bucket-range filter into the parquet scan") {
    val dir = Spill.newPath(spark)
    IncrementalSwa.ingest(ev((1L, 0, 1, 1.0), (1L, 5, 1, 2.0)), dir, cfg, 0L)
    val plan = IncrementalSwa.serve(spark, dir, cfg, 6 * DayUs, 2)
      .queryExecution.executedPlan.toString
    // partials are written sortWithinPartitions(bucket) precisely so
    // this pushed range prunes row groups — a regression here silently
    // turns every serve into a full-state scan
    assert(plan.linesIterator.exists(l =>
      l.contains("GreaterThanOrEqual(__b") && l.contains("LessThan(__b") &&
        l.contains("PushedFilters")),
      s"bucket range filter not pushed into the scan:\n$plan")
  }

  test("describe reports generations, versions, horizons, bytes, lease") {
    val dir = Spill.newPath(spark)
    val empty = IncrementalSwa.describe(spark, dir)
    assert(empty.committedGenerations.isEmpty && empty.versions.isEmpty &&
      empty.foldedThrough == -1L && empty.liveBytes == 0L &&
      empty.leaseOwner.isEmpty, s"missing store must describe as empty: $empty")
    IncrementalSwa.ingest(ev((1L, 0, 1, 1.0)), dir, cfg, 0L)
    IncrementalSwa.ingest(ev((1L, 1, 1, 2.0)), dir, cfg, 1L)
    val two = IncrementalSwa.describe(spark, dir)
    assert(two.versions == Seq(0L, 1L) && two.liveGeneration.contains(0L) &&
      two.foldedThrough == -1L && two.retainedFrom.isEmpty &&
      two.liveFiles > 0 && two.liveBytes > 0)
    // no writer is live, but the released lease file is gone — owner
    // empty (a present-but-stale lease would report its holder)
    assert(two.leaseOwner.isEmpty && two.leaseAgeMs.isEmpty)
    IncrementalSwa.compactRetaining(spark, dir, cfg, minBucket = 1L)
    val folded = IncrementalSwa.describe(spark, dir)
    assert(folded.versions == Seq(1L) && folded.foldedThrough == 1L &&
      folded.retainedFrom.contains(1L) &&
      folded.committedGenerations == Seq(0L, 1L) &&
      folded.liveGeneration.contains(1L))
    Publish.gc(spark, dir, keep = 1)
    assert(IncrementalSwa.describe(spark, dir)
      .committedGenerations == Seq(1L))
  }
}
