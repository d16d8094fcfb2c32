package graft

import graft.operators.{IncrementalDistinct, IncrementalQuantile, IncrementalSwa,
  IncrementalTopK, IncrementalUnion, IncrementalVector, Spill}
import graft.operators.IncrementalSwa.Config

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Retention horizons and GDPR key erasure for the incremental
  * feature-state stores: state bounded by the serving horizon, keys
  * erased in one atomic fold, and serves below an erased horizon
  * refused by name instead of silently under-aggregating.
  */
class IncrementalRetentionSpec extends SparkTestBase {
  import spark.implicits._

  private val DayUs = 86400000000L
  private val cfg = Config(Seq("k"), "ts", "v", DayUs)

  private def ev(rows: (Long, Int, Double)*): DataFrame =
    rows.toDF("k", "d", "v")
      .withColumn("ts", timestamp_micros(col("d") * DayUs + 3600000000L))
      .select("k", "ts", "v")

  private def sums(dir: String, asOfDays: Int, w: Int): Map[Long, Double] =
    IncrementalSwa.serve(spark, dir, cfg, asOfDays * DayUs, w)
      .select("k", "f_sum").as[(Long, Double)].collect().toMap

  test("retention compaction bounds state; serves below the horizon are refused by name") {
    val dir = Spill.newPath(spark)
    IncrementalSwa.ingest(ev((1L, 0, 1.0), (1L, 5, 2.0), (2L, 1, 3.0)),
      dir, cfg, 0L)
    IncrementalSwa.ingest(ev((1L, 6, 4.0), (2L, 6, 5.0)), dir, cfg, 1L)
    // retain from day 5: days 0-4 erased
    IncrementalSwa.compactRetaining(spark, dir, cfg, minBucket = 5L)
    assert(IncrementalSwa.retainedFrom(spark, dir).contains(5L))
    // a window fully within the retained range serves exactly
    assert(sums(dir, 7, 2) == Map(1L -> 6.0, 2L -> 5.0))
    // a window reaching below day 5 is REFUSED (those buckets are
    // erased, not empty — a silent serve would under-aggregate)
    val e = intercept[IllegalArgumentException] { sums(dir, 7, 3) }
    assert(e.getMessage.contains("retention-compacted") &&
      e.getMessage.contains("bucket 5"), e.getMessage)
    // the horizon survives a LATER plain compaction
    IncrementalSwa.ingest(ev((1L, 7, 10.0)), dir, cfg, 2L)
    IncrementalSwa.compact(spark, dir, cfg)
    assert(IncrementalSwa.retainedFrom(spark, dir).contains(5L))
    intercept[IllegalArgumentException] { sums(dir, 7, 3) }
    // and tightening it further moves it forward
    IncrementalSwa.compactRetaining(spark, dir, cfg, minBucket = 6L)
    assert(IncrementalSwa.retainedFrom(spark, dir).contains(6L))
    assert(sums(dir, 8, 2) == Map(1L -> 14.0, 2L -> 5.0))
    // re-ingesting erased history + an EXPLICIT lower horizon makes it
    // servable again (the explicit horizon REPLACES the recorded one —
    // otherwise the re-ingest remedy the error names could never work)
    IncrementalSwa.ingest(ev((1L, 5, 2.0)), dir, cfg, 3L)
    IncrementalSwa.compactRetaining(spark, dir, cfg, minBucket = 5L)
    assert(IncrementalSwa.retainedFrom(spark, dir).contains(5L))
    assert(sums(dir, 8, 3) == Map(1L -> 16.0, 2L -> 5.0))
  }

  test("serveDaily excludes horizon-partial rows by default; opt-in restores left-edge") {
    val dir = Spill.newPath(spark)
    IncrementalSwa.ingest(
      ev((1L, 0, 1.0), (1L, 1, 2.0), (1L, 2, 3.0), (1L, 3, 4.0)), dir, cfg, 0L)
    IncrementalSwa.compactRetaining(spark, dir, cfg, minBucket = 1L) // day 0 erased
    def daily(includePartial: Boolean): Map[Long, Double] =
      IncrementalSwa.serveDaily(spark, dir, cfg, 2, includePartial)
        .select("bucket", "f_sum").as[(Long, Double)].collect().toMap
    // bucket 1's window reaches the erased bucket 0 — excluded by
    // default (erased ≠ empty, the same posture as serve's refusal);
    // every emitted row is exact
    assert(daily(includePartial = false) == Map(2L -> 5.0, 3L -> 7.0))
    // explicit opt-in emits it with left-edge (retained-only) semantics
    assert(daily(includePartial = true) == Map(1L -> 2.0, 2L -> 5.0, 3L -> 7.0))
  }

  test("serveDaily keeps NULL-key state (serve()'s groupBy contract)") {
    val dir = Spill.newPath(spark)
    val rows = Seq((Some(1L), 0, 1.0), (None, 0, 5.0), (None, 1, 7.0))
      .toDF("k", "d", "v")
      .withColumn("ts", timestamp_micros(col("d") * DayUs + 3600000000L))
      .select("k", "ts", "v")
    IncrementalSwa.ingest(rows, dir, cfg, 0L)
    // serve() groups NULL keys into a row; the daily spine join must
    // match it null-safely instead of silently dropping it
    val daily = IncrementalSwa.serveDaily(spark, dir, cfg, 2)
      .select("k", "bucket", "f_sum").as[(Option[Long], Long, Double)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(daily((None, 1L)) == 12.0)
    assert(daily((Some(1L), 0L)) == 1.0)
    val served = IncrementalSwa.serve(spark, dir, cfg, 2 * DayUs, 2)
      .select("k", "f_sum").as[(Option[Long], Double)].collect().toMap
    assert(served(None) == 12.0, "daily row must equal the boundary serve")
  }

  test("forgetKeys erases a key's whole history atomically; re-ingest re-admits") {
    val dir = Spill.newPath(spark)
    IncrementalSwa.ingest(ev((1L, 0, 1.0), (2L, 0, 2.0), (3L, 1, 3.0)),
      dir, cfg, 0L)
    IncrementalSwa.ingest(ev((1L, 1, 4.0), (2L, 1, 5.0)), dir, cfg, 1L)
    IncrementalSwa.forgetKeys(spark, dir, cfg, Seq(1L).toDF("k"))
    // key 1 is ABSENT (not zero); others unchanged
    assert(sums(dir, 2, 2) == Map(2L -> 7.0, 3L -> 3.0))
    // the fold kept the version number: ingests continue above it
    IncrementalSwa.ingest(ev((1L, 1, 9.0)), dir, cfg, 2L)
    assert(sums(dir, 2, 2) == Map(1L -> 9.0, 2L -> 7.0, 3L -> 3.0),
      "a post-erasure ingest may legally re-admit the key with fresh data")
  }

  test("every store kind shares the retention/erasure contracts") {
    val items = Seq((1L, 0, "a"), (1L, 1, "b"), (2L, 1, "x"), (2L, 0, "y"))
      .toDF("k", "d", "item")
      .withColumn("ts", timestamp_micros(col("d") * DayUs + 1000000L))
      .select("k", "ts", "item")
    val uCfg = IncrementalUnion.Config(Seq("k"), "ts", "item", DayUs)
    val uDir = Spill.newPath(spark)
    IncrementalUnion.ingest(items, uDir, uCfg, 0L)
    IncrementalUnion.forgetKeys(spark, uDir, uCfg, Seq(1L).toDF("k"))
    assert(IncrementalUnion.serve(spark, uDir, uCfg, 2 * DayUs, 2)
      .as[(Long, Seq[String])].collect().toMap == Map(2L -> Seq("x", "y")))
    IncrementalUnion.compactRetaining(spark, uDir, uCfg, minBucket = 1L)
    assert(IncrementalUnion.serve(spark, uDir, uCfg, 2 * DayUs, 1)
      .as[(Long, Seq[String])].collect().toMap == Map(2L -> Seq("x")))
    intercept[IllegalArgumentException] {
      IncrementalUnion.serve(spark, uDir, uCfg, 2 * DayUs, 2).collect()
    }

    val dCfg = IncrementalDistinct.Config(Seq("k"), "ts", "item", DayUs)
    val dDir = Spill.newPath(spark)
    IncrementalDistinct.ingest(items, dDir, dCfg, 0L)
    IncrementalDistinct.forgetKeys(spark, dDir, dCfg, Seq(2L).toDF("k"))
    assert(IncrementalDistinct.serveDistinct(spark, dDir, dCfg, 2 * DayUs, 2)
      .select("k").as[Long].collect().toSeq == Seq(1L))
    IncrementalDistinct.compactRetaining(spark, dDir, dCfg, minBucket = 1L)
    assert(IncrementalDistinct.serveDistinct(spark, dDir, dCfg, 2 * DayUs, 1)
      .select("k").as[Long].collect().toSeq == Seq(1L))
    intercept[IllegalArgumentException] {
      IncrementalDistinct.serveDistinct(spark, dDir, dCfg, 2 * DayUs, 2)
    }

    // the remaining kinds over one frame: forgetKeys drops key 1,
    // compactRetaining from day 1 keeps key 2's day-1 window servable,
    // and a window reaching the erased day 0 is refused by name
    val rows = Seq((1L, 0, "a", 1.0), (1L, 1, "b", 2.0), (2L, 1, "x", 3.0),
      (2L, 0, "y", 4.0)).toDF("k", "d", "item", "v")
      .withColumn("ts", timestamp_micros(col("d") * DayUs + 1000000L))
      .withColumn("vec", array(col("v"), col("v") * 2))
    val gone = Seq(1L).toDF("k")
    def contract(name: String, ingest: String => Unit, forget: String => Unit,
        retain: String => Unit, served: (String, Int) => DataFrame): Unit = {
      val dir = Spill.newPath(spark)
      def keys(w: Int) = served(dir, w).select("k").as[Long].collect().toSet
      ingest(dir)
      forget(dir)
      assert(keys(2) == Set(2L), s"$name: forgetKeys")
      retain(dir)
      assert(keys(1) == Set(2L), s"$name: retained window")
      val e = intercept[IllegalArgumentException] { keys(2) }
      assert(e.getMessage.contains("retention-compacted"), s"$name: ${e.getMessage}")
    }
    val vCfg = IncrementalVector.Config(Seq("k"), "ts", "vec", DayUs)
    contract("vector", IncrementalVector.ingest(rows, _, vCfg, 0L),
      IncrementalVector.forgetKeys(spark, _, vCfg, gone),
      IncrementalVector.compactRetaining(spark, _, vCfg, 1L),
      IncrementalVector.serve(spark, _, vCfg, 2 * DayUs, _))
    val qCfg = IncrementalQuantile.Config(Seq("k"), "ts", "v", DayUs, 0.0, 8.0, 8)
    contract("quantile", IncrementalQuantile.ingest(rows, _, qCfg, 0L),
      IncrementalQuantile.forgetKeys(spark, _, qCfg, gone),
      IncrementalQuantile.compactRetaining(spark, _, qCfg, 1L),
      IncrementalQuantile.serveQuantiles(spark, _, qCfg, 2 * DayUs, _, Seq(0.5)))
    val tCfg = IncrementalTopK.Config(Seq("k"), "ts", "item", DayUs, 2)
    contract("topk", IncrementalTopK.ingest(rows, _, tCfg, 0L),
      IncrementalTopK.forgetKeys(spark, _, tCfg, gone),
      IncrementalTopK.compactRetaining(spark, _, tCfg, 1L),
      IncrementalTopK.serveTopK(spark, _, tCfg, 2 * DayUs, _, 1))
  }

  test("forgetKeys + Publish.gc removes the erased key from DISK, " +
      "not just from reads") {
    import graft.operators.Publish
    val dir = Spill.newPath(spark)
    IncrementalSwa.ingest(ev((1L, 0, 1.0), (2L, 0, 2.0)), dir, cfg, 0L)
    IncrementalSwa.ingest(ev((1L, 1, 3.0), (2L, 1, 4.0)), dir, cfg, 1L)
    IncrementalSwa.forgetKeys(spark, dir, cfg, Seq(1L).toDF("k"))
    // the fold flipped the pointer, but the PREVIOUS generation still
    // physically holds key 1's partials — erasure is not complete
    // until the generation GC runs (the reader-lease window)
    def allParquet(): Seq[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(dir.stripPrefix("file:")))
        .map(_.getPath).filter(_.endsWith(".parquet"))
    }
    def keysOnDisk(): Set[Long] =
      spark.read.parquet(allParquet(): _*)
        .select("k").distinct().as[Long].collect().toSet
    assert(keysOnDisk() == Set(1L, 2L),
      "pre-gc, the old generation must still hold the erased key " +
        "(that's what gc exists to reclaim)")
    Publish.gc(spark, dir, keep = 1)
    assert(keysOnDisk() == Set(2L),
      "post-gc, no file on disk may contain the erased key")
    // and reads still serve the surviving state
    assert(sums(dir, 2, 2) == Map(2L -> 6.0))
  }
}
