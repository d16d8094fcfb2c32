package graft

import graft.operators.NearDupIndex
import graft.streaming.StreamingAdmission
import org.apache.spark.sql.functions._

/** Continuous near-dup admission: reference duplicates are rejected,
  * novel documents admitted, and with `appendAdmitted` a later batch
  * duplicating an EARLIER admission is rejected too (the growing-
  * corpus loop).
  */
class StreamingAdmissionSpec extends SparkTestBase {
  import spark.implicits._

  private def words(p: String, n: Int) =
    (0 until n).map(i => s"$p$i").mkString(" ")

  private def tmp() =
    java.nio.file.Files.createTempDirectory("graft_adm").toString

  test("duplicates of the reference are rejected, novel docs admitted") {
    val reference = Seq(
      (1L, words("ref", 30)), (2L, words("other", 30))).toDF("doc_id", "text")
    val idx = tmp() + "/idx"
    NearDupIndex.build(reference, idx, "text", "doc_id")
    val deltaDir = tmp() + "/delta"
    Seq((101L, words("ref", 30)),   // verbatim reference copy → reject
        (102L, words("novel", 30))) // unseen → admit
      .toDF("doc_id", "text").write.parquet(deltaDir)
    val out = tmp() + "/out"
    StreamingAdmission.run(
      spark.readStream.schema(spark.read.parquet(deltaDir).schema)
        .parquet(deltaDir),
      "text", "doc_id", idx, out, threshold = 0.9)
    val admitted = spark.read.parquet(out)
      .select("doc_id").as[Long].collect().toSet
    assert(admitted == Set(102L), s"got $admitted")
  }

  test("a store written under a different hash family is refused, not silently empty") {
    val reference = Seq((1L, words("base", 30))).toDF("doc_id", "text")
    val idx = tmp() + "/idx"
    NearDupIndex.build(reference, idx, "text", "doc_id")
    // simulate a pre-versioning (r9-era) store: config without the
    // hash_family column
    Seq((128, 16, 5)).toDF("num_hashes", "bands", "shingle_size")
      .write.mode("overwrite").parquet(idx + "/config")
    val delta = Seq((9L, words("base", 30))).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      NearDupIndex.query(spark, idx, delta, "text", "doc_id", 0.9).collect()
    }
    assert(e.getMessage.contains("hash family"), e.getMessage)
  }

  test("a store written under the kgram_fnv_v1 family (unreduced MinHash bands) is refused") {
    val reference = Seq((1L, words("base", 30))).toDF("doc_id", "text")
    val idx = tmp() + "/idx"
    NearDupIndex.build(reference, idx, "text", "doc_id")
    // same shingle hash, but its band rows came from the unreduced
    // h1 + k·h2 families: a delta banded today would miss them
    Seq((128, 16, 5, "kgram_fnv_v1"))
      .toDF("num_hashes", "bands", "shingle_size", "hash_family")
      .write.mode("overwrite").parquet(idx + "/config")
    val delta = Seq((9L, words("base", 30))).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      NearDupIndex.query(spark, idx, delta, "text", "doc_id", 0.9).collect()
    }
    assert(e.getMessage.contains("hash family"), e.getMessage)
  }

  test("appendAdmitted: a later batch duplicating an earlier admission is rejected") {
    val reference = Seq((1L, words("base", 30))).toDF("doc_id", "text")
    val idx = tmp() + "/idx"
    NearDupIndex.build(reference, idx, "text", "doc_id")
    val deltaDir = new java.io.File(tmp(), "delta")
    deltaDir.mkdirs()
    // two files, processed as two batches (maxFilesPerTrigger = 1);
    // modification order pins batch order
    Seq((201L, words("fresh", 30))).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(deltaDir.toString)
    Thread.sleep(1100)
    Seq((202L, words("fresh", 30)),   // copy of batch-1 admission → reject
        (203L, words("newer", 30)))   // novel → admit
      .toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(deltaDir.toString)
    val out = tmp() + "/out"
    StreamingAdmission.run(
      spark.readStream.schema(spark.read.parquet(deltaDir.toString).schema)
        .option("maxFilesPerTrigger", "1").parquet(deltaDir.toString),
      "text", "doc_id", idx, out, threshold = 0.9, appendAdmitted = true)
    val admitted = spark.read.parquet(out)
      .select("doc_id").as[Long].collect().toSet
    assert(admitted == Set(201L, 203L), s"got $admitted")
  }

  test("appendAdmitted: replaying the whole stream reproduces the same survivors") {
    // at-least-once simulation: the same delta files re-run against an
    // index that ALREADY holds the first run's appends (fresh
    // checkpoint, same batch partitioning). A batch with an internal
    // near-dup pair is the review's counterexample: without the ordered
    // filter, both sides matched each other's stored rows and vanished
    val reference = Seq((1L, words("base", 30))).toDF("doc_id", "text")
    val idx = tmp() + "/idx"
    NearDupIndex.build(reference, idx, "text", "doc_id")
    val deltaDir = new java.io.File(tmp(), "delta")
    deltaDir.mkdirs()
    Seq((301L, words("twin", 30)),  // admitted
        (302L, words("twin", 30)))  // internal dup of 301 → rejected
      .toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(deltaDir.toString)
    val out = tmp() + "/out"
    def runOnce(): Set[Long] = {
      StreamingAdmission.run(
        spark.readStream.schema(spark.read.parquet(deltaDir.toString).schema)
          .parquet(deltaDir.toString),
        "text", "doc_id", idx, out, threshold = 0.9, appendAdmitted = true)
      spark.read.parquet(out).select("doc_id").as[Long].collect().toSet
    }
    val first = runOnce()
    assert(first == Set(301L), s"first run: $first")
    val replayed = runOnce()
    assert(replayed == first,
      s"replay changed the survivor set: $replayed vs $first")
  }
}
