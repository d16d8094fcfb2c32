package graft

import graft.operators.{IncrementalBm25, IncrementalSwa, Retrieval, Spill}
import graft.operators.IncrementalBm25.Config

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class IncrementalBm25Spec extends SparkTestBase {
  import spark.implicits._

  private val cfg = Config()

  private def docs(rows: (Long, String)*): DataFrame =
    rows.toDF("doc_id", "text")

  private def rows(df: DataFrame): Set[(Long, Long, Int, Double)] =
    df.select("q_id", "doc_id", "rank", "score")
      .as[(Long, Long, Int, Double)].collect().toSet

  private val corpus = docs(
    (1L, "spark engine for data"), (2L, "data data pipelines"),
    (3L, "feature engine"), (4L, "unrelated text entirely"),
    (5L, ""))
  private val queries = Seq((10L, "data engine"), (11L, "feature"))
    .toDF("q_id", "q_text")

  test("incremental serve equals the batch operator over the same corpus") {
    val root = Spill.newPath(spark) + "/bm"
    IncrementalBm25.ingest(corpus.where(col("doc_id") <= 3), root, cfg, 0L)
    IncrementalBm25.ingest(corpus.where(col("doc_id") > 3), root, cfg, 1L)
    val inc = rows(IncrementalBm25.serve(spark, root, cfg, queries, k = 3))
    val batch = rows(Retrieval.bm25TopK(corpus, queries, k = 3))
    assert(inc == batch && inc.nonEmpty)
    // the zero-token doc (5) raised N without postings — both paths
    // agree because the sentinel rows carry it into the stats
    IncrementalBm25.compact(spark, root, cfg)
    assert(IncrementalSwa.versions(spark, s"$root/idx") == Seq(1L))
    assert(rows(IncrementalBm25.serve(spark, root, cfg, queries, k = 3))
      == batch)
  }

  test("serveAsOf replays the pre-delta index; compaction refuses rebased reads") {
    val root = Spill.newPath(spark) + "/bm"
    IncrementalBm25.ingest(corpus.where(col("doc_id") <= 3), root, cfg, 0L)
    IncrementalBm25.ingest(corpus.where(col("doc_id") > 3), root, cfg, 1L)
    val v0 = rows(IncrementalBm25.serveAsOf(spark, root, cfg, queries, 0L,
      k = 3))
    assert(v0 == rows(Retrieval.bm25TopK(
      corpus.where(col("doc_id") <= 3), queries, k = 3)))
    IncrementalBm25.compact(spark, root, cfg)
    val e = intercept[IllegalArgumentException] {
      IncrementalBm25.serveAsOf(spark, root, cfg, queries, 0L, k = 3)
    }
    assert(e.getMessage.contains("rebased"), e.getMessage)
  }

  test("append-only monotone ids: replay is idempotent, a different delta is refused") {
    val root = Spill.newPath(spark) + "/bm"
    IncrementalBm25.ingest(corpus.where(col("doc_id") <= 3), root, cfg, 0L)
    val before = rows(IncrementalBm25.serve(spark, root, cfg, queries, k = 3))
    // genuine replay of version 0: same delta, same result
    IncrementalBm25.ingest(corpus.where(col("doc_id") <= 3), root, cfg, 0L)
    assert(rows(IncrementalBm25.serve(spark, root, cfg, queries, k = 3))
      == before)
    // a non-monotone delta is refused by name
    val e1 = intercept[IllegalArgumentException] {
      IncrementalBm25.ingest(docs((2L, "stale")), root, cfg, 1L)
    }
    assert(e1.getMessage.contains("append-only"), e1.getMessage)
    // a DIFFERENT delta claiming the written version is refused
    val e2 = intercept[IllegalArgumentException] {
      IncrementalBm25.ingest(docs((99L, "imposter")), root, cfg, 0L)
    }
    assert(e2.getMessage.contains("already written"), e2.getMessage)
    // same ids, same count, DIFFERENT content: the fingerprint catches
    // the content imposter the id bounds alone would miss
    val e3 = intercept[IllegalArgumentException] {
      IncrementalBm25.ingest(
        corpus.where(col("doc_id") <= 3)
          .withColumn("text", concat(col("text"), lit(" mutated"))),
        root, cfg, 0L)
    }
    assert(e3.getMessage.contains("fingerprint"), e3.getMessage)
    // a version backfilled BENEATH the recorded max would double-enter
    // docs against high-water reads that only look below it
    IncrementalBm25.ingest(docs((50L, "later docs")), root, cfg, 5L)
    val e4 = intercept[IllegalArgumentException] {
      IncrementalBm25.ingest(docs((40L, "backfill")), root, cfg, 2L)
    }
    assert(e4.getMessage.contains("not above the latest"), e4.getMessage)
    // null ids are refused by name (they would be unerasable)
    val e5 = intercept[IllegalArgumentException] {
      IncrementalBm25.ingest(
        docs((60L, "ok")).unionByName(
          Seq(("x")).toDF("text").withColumn("doc_id",
            lit(null).cast("long")).select("doc_id", "text")),
        root, cfg, 6L)
    }
    assert(e5.getMessage.contains("NULL ids"), e5.getMessage)
  }

  test("maintain folds past the threshold and gc's generations, idempotently") {
    val root = Spill.newPath(spark) + "/bm"
    IncrementalBm25.ingest(corpus.where(col("doc_id") <= 3), root, cfg, 0L)
    IncrementalBm25.ingest(corpus.where(col("doc_id") > 3), root, cfg, 1L)
    val before = IncrementalBm25.describe(spark, root)
    assert(before.versions == Seq(0L, 1L))
    assert(IncrementalBm25.maintain(spark, root, cfg,
      compactWhenVersionsExceed = 1, gcKeepGenerations = 1))
    val after = IncrementalBm25.describe(spark, root)
    assert(after.versions == Seq(1L) && after.committedGenerations.size == 1,
      after.toString)
    // maintenance moves bytes, never answers
    assert(rows(IncrementalBm25.serve(spark, root, cfg, queries, k = 3))
      == rows(Retrieval.bm25TopK(corpus, queries, k = 3)))
    // second run under the same policy: nothing to do
    assert(!IncrementalBm25.maintain(spark, root, cfg,
      compactWhenVersionsExceed = 1, gcKeepGenerations = 1))
  }

  test("crash between meta record and data write: benign hole, replay fills it") {
    // ingest records the high-water meta BEFORE the version partition —
    // a crash between the two leaves ids reserved with no served data
    // (never the reverse, which would let a later delta double-count).
    // Simulate the crash by deleting the data partition after a full
    // ingest: the meta row survives, the replay passes the guard and
    // overwrites the partition idempotently.
    val root = Spill.newPath(spark) + "/bm"
    IncrementalBm25.ingest(corpus.where(col("doc_id") <= 3), root, cfg, 0L)
    IncrementalBm25.ingest(corpus.where(col("doc_id") > 3), root, cfg, 1L)
    val gen = org.apache.hadoop.fs.Path.getPathWithoutSchemeAndAuthority(
      new org.apache.hadoop.fs.Path(s"$root/idx"))
    val fs = gen.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = new org.apache.hadoop.fs.Path(s"$root/idx/gen=0/__v=1")
    assert(fs.exists(part), "layout drifted — fix the test's crash simulation")
    fs.delete(part, true)
    // the hole serves as if version 1 never happened — consistently
    val holed = rows(IncrementalBm25.serve(spark, root, cfg, queries, k = 3))
    assert(holed == rows(Retrieval.bm25TopK(
      corpus.where(col("doc_id") <= 3), queries, k = 3)))
    // the replay re-presents the same delta and fills the hole
    IncrementalBm25.ingest(corpus.where(col("doc_id") > 3), root, cfg, 1L)
    assert(rows(IncrementalBm25.serve(spark, root, cfg, queries, k = 3))
      == rows(Retrieval.bm25TopK(corpus, queries, k = 3)))
  }

  test("forgetDocs erases postings AND length from the statistics") {
    val root = Spill.newPath(spark) + "/bm"
    IncrementalBm25.ingest(corpus, root, cfg, 0L)
    IncrementalBm25.forgetDocs(spark, root, cfg, Seq(2L).toDF("doc_id"))
    val after = rows(IncrementalBm25.serve(spark, root, cfg, queries, k = 3))
    // doc 2 is gone from results AND from N/avgdl/df — scores equal a
    // batch run over the corpus without it
    assert(!after.exists(_._2 == 2L))
    assert(after == rows(Retrieval.bm25TopK(
      corpus.where(col("doc_id") =!= 2), queries, k = 3)))
  }

  test("bm25IndexStream: streamed maintenance equals the batch operator") {
    val root = Spill.newPath(spark) + "/bms"
    IncrementalBm25.ingest(corpus.where(col("doc_id") <= 3), root, cfg, 0L)
    val deltaDir = Spill.newPath(spark) + "/bms_delta"
    corpus.where(col("doc_id") > 3).coalesce(1).write.parquet(deltaDir)
    val stream = spark.readStream
      .schema(spark.read.parquet(deltaDir).schema).parquet(deltaDir)
    graft.streaming.StreamingIngest.bm25IndexStream(stream, root, cfg,
      versionBase = 1L)
    assert(IncrementalSwa.versions(spark, s"$root/idx") == Seq(0L, 1L))
    assert(rows(IncrementalBm25.serve(spark, root, cfg, queries, k = 3))
      == rows(Retrieval.bm25TopK(corpus, queries, k = 3)))
  }

  test("a folded version is refused by the fold before the meta guard; " +
      "forget records its fold") {
    val root = Spill.newPath(spark) + "/bm"
    val d1 = corpus.where(col("doc_id") > 3)
    IncrementalBm25.ingest(corpus.where(col("doc_id") <= 3), root, cfg, 0L)
    IncrementalBm25.ingest(d1, root, cfg, 1L)
    IncrementalBm25.compact(spark, root, cfg)
    // the identical delta is what the meta guard accepts as a replay,
    // an imposter what it refuses as "already written": both must
    // meet the fold guard first
    val replay = intercept[IllegalArgumentException] {
      IncrementalBm25.ingest(d1, root, cfg, 1L)
    }
    assert(replay.getMessage.contains("fold"), replay.getMessage)
    val imposter = intercept[IllegalArgumentException] {
      IncrementalBm25.ingest(docs((4L, "other text")), root, cfg, 1L)
    }
    assert(imposter.getMessage.contains("fold") &&
      !imposter.getMessage.contains("already written"), imposter.getMessage)
    IncrementalBm25.ingest(docs((6L, "late data")), root, cfg, 2L)
    IncrementalBm25.forgetDocs(spark, root, cfg, Seq(6L).toDF("doc_id"))
    assert(IncrementalBm25.describe(spark, root).foldedThrough == 2L)
  }
}
