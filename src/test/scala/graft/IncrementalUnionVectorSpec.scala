package graft

import graft.operators.{IncrementalSwa, IncrementalUnion, IncrementalVector, Spill}

import org.apache.spark.sql.functions._

class IncrementalUnionVectorSpec extends SparkTestBase {
  import spark.implicits._

  private val DayUs = 86400000000L

  private def ev(rows: (Long, Int, String)*) =
    rows.toDF("k", "d", "item")
      .withColumn("ts", timestamp_micros(col("d") * DayUs + 1000000L))
      .select("k", "ts", "item")

  private val uCfg = IncrementalUnion.Config(Seq("k"), "ts", "item", DayUs,
    maxSetPerBucket = 3)

  test("union: ingest/serve window, replay idempotence, compact") {
    val dir = Spill.newPath(spark)
    IncrementalUnion.ingest(
      ev((1L, 0, "a"), (1L, 0, "b"), (1L, 0, "a"), (2L, 0, "x")),
      dir, uCfg, 0L)
    IncrementalUnion.ingest(
      ev((1L, 1, "b"), (1L, 1, "c"), (2L, 2, "y")), dir, uCfg, 1L)
    def got(asOfDays: Int, w: Int) =
      IncrementalUnion.serve(spark, dir, uCfg, asOfDays * DayUs, w)
        .as[(Long, Seq[String])].collect().sortBy(_._1).toSeq
    assert(got(3, 3) == Seq((1L, Seq("a", "b", "c")), (2L, Seq("x", "y"))))
    // window excludes day 0
    assert(got(3, 2) == Seq((1L, Seq("b", "c")), (2L, Seq("y"))))
    // replay the same version: overwrite, not double-union
    IncrementalUnion.ingest(
      ev((1L, 1, "b"), (1L, 1, "c"), (2L, 2, "y")), dir, uCfg, 1L)
    assert(got(3, 3) == Seq((1L, Seq("a", "b", "c")), (2L, Seq("x", "y"))))
    // compact folds to one version, same serves; rebased versions refused
    IncrementalUnion.compact(spark, dir, uCfg)
    assert(IncrementalSwa.versions(spark, dir) == Seq(1L))
    assert(got(3, 3) == Seq((1L, Seq("a", "b", "c")), (2L, Seq("x", "y"))))
    val e = intercept[IllegalArgumentException] {
      IncrementalUnion.ingest(ev((3L, 2, "z")), dir, uCfg, 1L)
    }
    assert(e.getMessage.contains("fold"))
  }

  test("union: over-cap ingest fails by name and leaves no partition") {
    val dir = Spill.newPath(spark)
    IncrementalUnion.ingest(ev((1L, 0, "a")), dir, uCfg, 0L)
    val e = intercept[IllegalStateException] {
      IncrementalUnion.ingest(
        ev((1L, 1, "a"), (1L, 1, "b"), (1L, 1, "c"), (1L, 1, "d")),
        dir, uCfg, 1L)
    }
    assert(e.getMessage.contains("cap") && e.getMessage.contains("k=1"),
      e.getMessage)
    assert(IncrementalSwa.versions(spark, dir) == Seq(0L),
      "failed ingest must delete its own partition")
    // per-bucket caps can still union past the cap at compact: refused
    (1 to 3).foreach(i => IncrementalUnion.ingest(
      ev((1L, 0, s"i$i"), (1L, 0, s"j$i")), dir, uCfg, i.toLong))
    val c = intercept[IllegalStateException] {
      IncrementalUnion.compact(spark, dir, uCfg)
    }
    assert(c.getMessage.contains("compaction"), c.getMessage)
  }

  test("union: serveDaily = per-bucket distinct merge; serveAsOf = version truncation") {
    val dir = Spill.newPath(spark)
    IncrementalUnion.ingest(
      ev((1L, 0, "a"), (1L, 1, "b"), (2L, 0, "x")), dir, uCfg, 0L)
    IncrementalUnion.ingest(ev((1L, 3, "c")), dir, uCfg, 1L)
    val daily = IncrementalUnion.serveDaily(spark, dir, uCfg, 2)
      .select("k", "bucket", "f_union")
      .as[(Long, Long, Seq[String])].collect()
      .map { case (k, b, u) => (k, b) -> u }.toMap
    assert(daily == Map(
      (1L, 0L) -> Seq("a"), (1L, 1L) -> Seq("a", "b"), (1L, 2L) -> Seq("b"),
      (1L, 3L) -> Seq("c"),
      (2L, 0L) -> Seq("x"), (2L, 1L) -> Seq("x")))
    // matches a serve() at each boundary by construction
    val s2 = IncrementalUnion.serve(spark, dir, uCfg, 2 * DayUs, 2)
      .as[(Long, Seq[String])].collect().toMap
    assert(s2 == Map(1L -> daily((1L, 1L)), 2L -> daily((2L, 1L))))
    // time travel: before version 1, day 3 holds nothing
    assert(IncrementalUnion.serveAsOf(spark, dir, uCfg, 4 * DayUs, 1, 0L)
      .collect().isEmpty)
    assert(IncrementalUnion.serveAsOf(spark, dir, uCfg, 4 * DayUs, 1, 1L)
      .as[(Long, Seq[String])].collect().toMap == Map(1L -> Seq("c")))
    // horizon: retention trims day 0; the partial-window bucket 1 is
    // excluded by default, restored by the explicit opt-in
    IncrementalUnion.compactRetaining(spark, dir, uCfg, minBucket = 1L)
    val trimmed = IncrementalUnion.serveDaily(spark, dir, uCfg, 2)
      .select("bucket").as[Long].collect().toSet
    assert(trimmed == Set(2L, 3L))
    val optIn = IncrementalUnion.serveDaily(spark, dir, uCfg, 2,
      includeHorizonPartialRows = true)
      .select("bucket").as[Long].collect().toSet
    assert(optIn == Set(1L, 2L, 3L))
  }

  test("vector: serveDaily window table; serveAsOf version truncation") {
    val dir = Spill.newPath(spark)
    IncrementalVector.ingest(
      vec((1L, 0, Seq(1.0, 2.0)), (1L, 1, Seq(3.0, 4.0))), dir, vCfg, 0L)
    IncrementalVector.ingest(vec((1L, 3, Seq(5.0, 6.0))), dir, vCfg, 1L)
    val daily = IncrementalVector.serveDaily(spark, dir, vCfg, 2)
      .select("k", "bucket", "f_esum", "f_ecnt", "f_eavg", "f_emin", "f_emax")
      .as[(Long, Long, Seq[Double], Long, Seq[Double], Seq[Double], Seq[Double])]
      .collect().map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6, r._7))).toMap
    assert(daily((1L, 0L)) ==
      ((Seq(1.0, 2.0), 1L, Seq(1.0, 2.0), Seq(1.0, 2.0), Seq(1.0, 2.0))))
    assert(daily((1L, 1L)) ==
      ((Seq(4.0, 6.0), 2L, Seq(2.0, 3.0), Seq(1.0, 2.0), Seq(3.0, 4.0))))
    assert(daily((1L, 2L)) ==
      ((Seq(3.0, 4.0), 1L, Seq(3.0, 4.0), Seq(3.0, 4.0), Seq(3.0, 4.0))))
    assert(daily((1L, 3L)) ==
      ((Seq(5.0, 6.0), 1L, Seq(5.0, 6.0), Seq(5.0, 6.0), Seq(5.0, 6.0))))
    // each row equals the boundary serve (the spec of the table)
    val s1 = IncrementalVector.serve(spark, dir, vCfg, 2 * DayUs, 2)
      .select("f_esum", "f_ecnt").as[(Seq[Double], Long)].collect().head
    assert(s1 == ((daily((1L, 1L))._1, daily((1L, 1L))._2)))
    // time travel: version 0 has no day-3 vector
    assert(IncrementalVector.serveAsOf(spark, dir, vCfg, 4 * DayUs, 1, 0L)
      .collect().isEmpty)
    val e = intercept[IllegalArgumentException] {
      IncrementalVector.compact(spark, dir, vCfg)
      IncrementalVector.serveAsOf(spark, dir, vCfg, 4 * DayUs, 1, 0L).collect()
    }
    assert(e.getMessage.contains("rebased"), e.getMessage)
  }

  test("union: ingest stages beside the generations; a crash's stranded staging is swept, an over-cap ingest leaves none") {
    val dir = Spill.newPath(spark)
    IncrementalUnion.ingest(ev((1L, 0, "a")), dir, uCfg, 0L)
    // a visible name outside every generation dir: Spark reads it back
    // for the cap check without taking it for a hidden path
    val staging = new org.apache.hadoop.fs.Path(IncrementalUnion.stagingPath(dir))
    assert(!staging.getName.startsWith("_") && !staging.getName.startsWith("."))
    assert(staging.getParent.toString == new org.apache.hadoop.fs.Path(dir).toString)
    val fs = staging.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate a killed ingest: staged files left behind, never swapped
    fs.mkdirs(staging)
    fs.create(new org.apache.hadoop.fs.Path(staging, "part-stranded.parquet")).close()
    IncrementalUnion.ingest(ev((1L, 1, "b")), dir, uCfg, 1L)
    assert(!fs.exists(staging), "stale staging must not accumulate")
    assert(IncrementalSwa.versions(spark, dir) == Seq(0L, 1L))
    // an over-cap ingest is still refused by name and leaves no staging
    val e = intercept[IllegalStateException] {
      IncrementalUnion.ingest(
        ev((1L, 2, "a"), (1L, 2, "b"), (1L, 2, "c"), (1L, 2, "d")), dir, uCfg, 2L)
    }
    assert(e.getMessage.contains("cap") && e.getMessage.contains("k=1"), e.getMessage)
    assert(!fs.exists(staging))
    assert(IncrementalSwa.versions(spark, dir) == Seq(0L, 1L))
    assert(IncrementalUnion.serve(spark, dir, uCfg, 3 * DayUs, 3)
      .as[(Long, Seq[String])].collect().toSeq == Seq((1L, Seq("a", "b"))))
  }

  private def vec(rows: (Long, Int, Seq[Double])*) =
    rows.toDF("k", "d", "v")
      .withColumn("ts", timestamp_micros(col("d") * DayUs + 1000000L))
      .select("k", "ts", "v")

  private val vCfg = IncrementalVector.Config(Seq("k"), "ts", "v", DayUs)

  test("vector: exact grid sums, min/max, avg; window; compact") {
    val dir = Spill.newPath(spark)
    IncrementalVector.ingest(
      vec((1L, 0, Seq(1.0, -2.0)), (1L, 0, Seq(0.5, 4.0)),
        (2L, 0, Seq(10.0, 0.0))), dir, vCfg, 0L)
    IncrementalVector.ingest(
      vec((1L, 1, Seq(2.5, 2.0))), dir, vCfg, 1L)
    def got(w: Int) =
      IncrementalVector.serve(spark, dir, vCfg, 2 * DayUs, w)
        .select("k", "sum_grid", "f_ecnt", "f_emin", "f_emax", "f_eavg")
        .as[(Long, Seq[Long], Long, Seq[Double], Seq[Double], Seq[Double])]
        .collect().sortBy(_._1).toSeq
    assert(got(2) == Seq(
      (1L, Seq(40000L, 40000L), 3L, Seq(0.5, -2.0), Seq(2.5, 4.0),
        Seq(4.0 / 3, 4.0 / 3)),
      (2L, Seq(100000L, 0L), 1L, Seq(10.0, 0.0), Seq(10.0, 0.0),
        Seq(10.0, 0.0))))
    // window excludes day 0: only k=1's day-1 row remains
    assert(got(1) == Seq(
      (1L, Seq(25000L, 20000L), 1L, Seq(2.5, 2.0), Seq(2.5, 2.0),
        Seq(2.5, 2.0))))
    IncrementalVector.compact(spark, dir, vCfg)
    assert(IncrementalSwa.versions(spark, dir) == Seq(1L))
    assert(got(2).map(_._2) == Seq(Seq(40000L, 40000L), Seq(100000L, 0L)))
  }

  test("vector: mismatched lengths fail fast") {
    val dir = Spill.newPath(spark)
    val e = intercept[Exception] {
      IncrementalVector.ingest(
        vec((1L, 0, Seq(1.0, 2.0)), (1L, 0, Seq(1.0))), dir, vCfg, 0L)
    }
    assert(e.getMessage != null &&
      (e.getMessage.contains("mismatched") ||
        e.getCause != null))
  }
}
