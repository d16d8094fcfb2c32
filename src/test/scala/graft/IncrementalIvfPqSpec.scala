package graft

import graft.operators.{IncrementalIvfPq, IncrementalSwa, Similarity, Spill}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class IncrementalIvfPqSpec extends SparkTestBase {
  import spark.implicits._

  // four well-separated 8-dim clusters, 32 vectors each; ids encode
  // the cluster so brute-force neighbors are in-cluster by construction
  private def vecs(ids: Range): DataFrame =
    ids.map { i =>
      val c = i % 4
      val base = Array.tabulate(8)(d => if (d == c * 2) 10f else 0f)
      (i.toLong, base.zipWithIndex.map { case (v, d) =>
        v + ((i * 31 + d * 7) % 13) * 0.05f }.toSeq)
    }.toDF("vec_id", "embedding")

  private val initial = vecs(0 until 128)
  private val delta = vecs(128 until 192)
  private val queries = vecs(0 until 192).where(col("vec_id") % 16 === 1)
    .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))

  private def hits(df: DataFrame): Set[(Long, Long)] =
    df.select("q_id", "vec_id").as[(Long, Long)].collect().toSet

  private def recallOk(approx: DataFrame, exact: DataFrame,
      k: Int, bar: Double): Boolean = {
    val a = hits(approx).groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val e = hits(exact).groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    e.forall { case (q, ex) =>
      a.getOrElse(q, Set.empty).intersect(ex).size >= math.ceil(bar * k) }
  }

  test("ingest extends the index; asOf replays the pre-delta state exactly") {
    val root = Spill.newPath(spark) + "/ivf"
    IncrementalIvfPq.build(initial, root, nCells = 4, m = 4, kCodes = 8)
    val before = hits(IncrementalIvfPq.query(spark, root, queries,
      k = 5, nProbe = 2))
    IncrementalIvfPq.ingest(delta, root, version = 1L)
    val after = IncrementalIvfPq.query(spark, root, queries,
      k = 5, nProbe = 2)
    // the grown index meets the recall bar against brute force over
    // the grown corpus — new vectors are served, not just stored
    assert(recallOk(after,
      Similarity.bruteForceTopK(initial.unionByName(delta), queries, 5),
      k = 5, bar = 0.6))
    assert(hits(after).exists(_._2 >= 128L), "no delta vector ever served")
    // time travel: the same frozen quantizers make the as-of read
    // EXACTLY the pre-ingest result
    assert(hits(IncrementalIvfPq.queryAsOf(spark, root, queries, 0L,
      k = 5, nProbe = 2)) == before)
    IncrementalIvfPq.compact(spark, root)
    assert(IncrementalSwa.versions(spark, s"$root/vstore") == Seq(1L))
    assert(hits(IncrementalIvfPq.query(spark, root, queries,
      k = 5, nProbe = 2)) == hits(after))
    val e = intercept[IllegalArgumentException] {
      IncrementalIvfPq.queryAsOf(spark, root, queries, 0L, k = 5, nProbe = 2)
    }
    assert(e.getMessage.contains("rebased"), e.getMessage)
  }

  test("ivfPqIndexStream: streamed ingest equals direct ingest") {
    val root = Spill.newPath(spark) + "/ivfs"
    IncrementalIvfPq.build(initial, root, nCells = 4, m = 4, kCodes = 8)
    val deltaDir = Spill.newPath(spark) + "/ivfs_delta"
    delta.coalesce(1).write.parquet(deltaDir)
    val stream = spark.readStream
      .schema(spark.read.parquet(deltaDir).schema).parquet(deltaDir)
    graft.streaming.StreamingIngest.ivfPqIndexStream(stream, root,
      versionBase = 1L)
    assert(IncrementalSwa.versions(spark, s"$root/vstore") == Seq(0L, 1L))
    val direct = Spill.newPath(spark) + "/ivfd"
    IncrementalIvfPq.build(initial, direct, nCells = 4, m = 4, kCodes = 8)
    IncrementalIvfPq.ingest(delta, direct, version = 1L)
    // same build seed + same frozen quantizers + same delta → the
    // streamed index serves exactly what the direct ingest serves
    assert(hits(IncrementalIvfPq.query(spark, root, queries,
        k = 5, nProbe = 2)) ==
      hits(IncrementalIvfPq.query(spark, direct, queries,
        k = 5, nProbe = 2)))
  }

  test("monotone append-only ids; forgetVectors erases from every later read") {
    val root = Spill.newPath(spark) + "/ivf"
    IncrementalIvfPq.build(initial, root, nCells = 4, m = 4, kCodes = 8)
    val e1 = intercept[IllegalArgumentException] {
      IncrementalIvfPq.ingest(vecs(100 until 130), root, version = 1L)
    }
    assert(e1.getMessage.contains("append-only"), e1.getMessage)
    IncrementalIvfPq.ingest(delta, root, version = 1L)
    // replay of version 1 is idempotent; an imposter delta is refused
    IncrementalIvfPq.ingest(delta, root, version = 1L)
    val e2 = intercept[IllegalArgumentException] {
      IncrementalIvfPq.ingest(vecs(500 until 510), root, version = 1L)
    }
    assert(e2.getMessage.contains("already written"), e2.getMessage)
    val victims = Seq(1L, 129L).toDF("vec_id")
    IncrementalIvfPq.forgetVectors(spark, root, victims)
    val served = hits(IncrementalIvfPq.query(spark, root, queries,
      k = 5, nProbe = 4))
    assert(!served.exists(h => h._2 == 1L || h._2 == 129L))
  }

  test("maintain folds past the threshold and gc's, serving unchanged") {
    val root = Spill.newPath(spark) + "/ivfm"
    IncrementalIvfPq.build(initial, root, nCells = 4, m = 4, kCodes = 8)
    IncrementalIvfPq.ingest(delta, root, version = 1L)
    val before = hits(IncrementalIvfPq.query(spark, root, queries,
      k = 5, nProbe = 2))
    assert(IncrementalIvfPq.describe(spark, root).versions == Seq(0L, 1L))
    assert(IncrementalIvfPq.maintain(spark, root,
      compactWhenVersionsExceed = 1, gcKeepGenerations = 1))
    val info = IncrementalIvfPq.describe(spark, root)
    assert(info.versions == Seq(1L) && info.committedGenerations.size == 1,
      info.toString)
    assert(hits(IncrementalIvfPq.query(spark, root, queries,
      k = 5, nProbe = 2)) == before)
    assert(!IncrementalIvfPq.maintain(spark, root,
      compactWhenVersionsExceed = 1, gcKeepGenerations = 1))
    // half-applied guard: a bad gc bound is refused BEFORE any fold
    val e = intercept[IllegalArgumentException] {
      IncrementalIvfPq.maintain(spark, root,
        compactWhenVersionsExceed = 1, gcKeepGenerations = 0)
    }
    assert(e.getMessage.contains("gcKeepGenerations"), e.getMessage)
  }

  test("rebuild: retrained quantizers swap atomically, recall holds, lineage continues") {
    val root = Spill.newPath(spark) + "/ivf"
    IncrementalIvfPq.build(initial, root, nCells = 4, m = 4, kCodes = 8)
    IncrementalIvfPq.ingest(delta, root, version = 1L)
    val forgotten = Seq(1L, 129L).toDF("vec_id")
    IncrementalIvfPq.forgetVectors(spark, root, forgotten)
    val survivors = initial.unionByName(delta)
      .where(!col("vec_id").isin(1L, 129L))
    val exact = Similarity.bruteForceTopK(survivors, queries, 5)
    val preRecall = recallOk(IncrementalIvfPq.query(spark, root, queries,
      k = 5, nProbe = 2), exact, k = 5, bar = 0.6)
    assert(preRecall)

    // the retrain cycle: quantizers re-fit to the SURVIVING corpus,
    // installed with the re-encoded codes under one generation flip
    IncrementalIvfPq.rebuild(spark, root)
    val post = IncrementalIvfPq.query(spark, root, queries,
      k = 5, nProbe = 2)
    assert(recallOk(post, exact, k = 5, bar = 0.6),
      "recall regressed across the rebuild")
    // forgotten vectors stay gone; the corpus is intact otherwise
    assert(!hits(post).exists(h => h._2 == 1L || h._2 == 129L))

    // the new generation carries its own quantizers; pre-rebuild
    // history is rebased — queryAsOf refuses by name
    val gen = graft.operators.Publish.current(spark, s"$root/vstore").get
    assert(new java.io.File(s"$root/vstore/gen=$gen/_quantizers/centroids")
      .exists(), "quantizers not installed inside the new generation")
    val e = intercept[IllegalArgumentException] {
      IncrementalIvfPq.queryAsOf(spark, root, queries, 1L, k = 5, nProbe = 2)
    }
    assert(e.getMessage.contains("rebased"), e.getMessage)

    // lineage continues: burned ids refused, fresh ids encode against
    // the NEW quantizers and serve
    val eBurn = intercept[IllegalArgumentException] {
      IncrementalIvfPq.ingest(vecs(100 until 130), root,
        version = IncrementalSwa.foldedThrough(spark, s"$root/vstore") + 1)
    }
    assert(eBurn.getMessage.contains("append-only"), eBurn.getMessage)
    val v2 = IncrementalSwa.foldedThrough(spark, s"$root/vstore") + 1
    IncrementalIvfPq.ingest(vecs(192 until 224), root, version = v2)
    val grown = IncrementalIvfPq.query(spark, root, queries,
      k = 5, nProbe = 2)
    assert(recallOk(grown,
      Similarity.bruteForceTopK(
        survivors.unionByName(vecs(192 until 224)), queries, 5),
      k = 5, bar = 0.6))
    assert(hits(grown).exists(_._2 >= 192L), "post-rebuild delta never served")

    // a plain compact after the rebuild CARRIES the quantizers — the
    // fold must keep scoring under the generation's own codebooks
    IncrementalIvfPq.compact(spark, root)
    val gen2 = graft.operators.Publish.current(spark, s"$root/vstore").get
    assert(new java.io.File(s"$root/vstore/gen=$gen2/_quantizers/centroids")
      .exists(), "compact dropped the rebuilt quantizers")
    assert(hits(IncrementalIvfPq.query(spark, root, queries,
      k = 5, nProbe = 2)) == hits(grown))
  }

  test("a folded version is refused by the fold before the meta guard; " +
      "forget records its fold") {
    val root = Spill.newPath(spark) + "/ivff"
    IncrementalIvfPq.build(initial, root, nCells = 4, m = 4, kCodes = 8)
    IncrementalIvfPq.ingest(delta, root, version = 1L)
    IncrementalIvfPq.compact(spark, root)
    // the identical delta is what the meta guard accepts as a replay,
    // an imposter what it refuses as "already written": both must
    // meet the fold guard first
    val replay = intercept[IllegalArgumentException] {
      IncrementalIvfPq.ingest(delta, root, version = 1L)
    }
    assert(replay.getMessage.contains("fold"), replay.getMessage)
    val imposter = intercept[IllegalArgumentException] {
      IncrementalIvfPq.ingest(vecs(128 until 140), root, version = 1L)
    }
    assert(imposter.getMessage.contains("fold") &&
      !imposter.getMessage.contains("already written"), imposter.getMessage)
    IncrementalIvfPq.ingest(vecs(192 until 200), root, version = 2L)
    IncrementalIvfPq.forgetVectors(spark, root, Seq(193L).toDF("vec_id"))
    assert(IncrementalIvfPq.describe(spark, root).foldedThrough == 2L)
  }
}
