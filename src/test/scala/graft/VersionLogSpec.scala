package graft

import graft.operators.{IncrementalBm25, IncrementalHamming, IncrementalIvfPq,
  IncrementalSwa, Spill}

import java.net.URI
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The local filesystem under the `countfs` scheme, counting
  * `listStatus` calls per path. Listing a store's root is how a reader
  * resolves its live generation, so the count on the root is the
  * number of resolutions one read made.
  */
class CountingFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("countfs:///")
  override def getScheme: String = "countfs"
  override def listStatus(f: Path): Array[FileStatus] = {
    CountingFs.listings.computeIfAbsent(
      Path.getPathWithoutSchemeAndAuthority(f).toString,
      _ => new AtomicInteger).incrementAndGet()
    super.listStatus(f)
  }
}

object CountingFs {
  val listings = new ConcurrentHashMap[String, AtomicInteger]()
}

/** A lock-free read resolves a store's live generation ONCE and derives
  * every check and its state read from it: a second resolution can
  * land on a generation a concurrent compaction published in between,
  * passing the old generation's fold or retention check and then
  * silently reading the new one.
  */
class VersionLogSpec extends SparkTestBase {
  import spark.implicits._

  spark.sparkContext.hadoopConfiguration
    .set("fs.countfs.impl", classOf[CountingFs].getName)

  /** Listings of the store dir `root + store` made by `read`, which
    * opens `root` through the counting scheme.
    */
  private def rootListings(root: String, store: String = "")(
      read: String => DataFrame): Int = {
    CountingFs.listings.clear()
    read("countfs://" + root).collect()
    Option(CountingFs.listings.get(root + store)).fold(0)(_.get)
  }

  private val DayUs = 86400000000L

  test("IncrementalSwa serveAsOf and a boundary serve under a retention " +
      "horizon resolve the generation once") {
    val cfg = IncrementalSwa.Config(Seq("k"), "ts", "v", DayUs)
    def ev(rows: (Long, Int, Double)*): DataFrame =
      rows.toDF("k", "d", "v")
        .withColumn("ts", timestamp_micros(col("d") * DayUs + 3600000000L))
        .select("k", "ts", "v")
    val dir = Spill.newPath(spark)
    IncrementalSwa.ingest(ev((1L, 0, 1.0), (1L, 5, 2.0), (2L, 1, 3.0)),
      dir, cfg, 0L)
    IncrementalSwa.ingest(ev((1L, 6, 4.0), (2L, 6, 5.0)), dir, cfg, 1L)
    IncrementalSwa.compactRetaining(spark, dir, cfg, minBucket = 5L)
    IncrementalSwa.ingest(ev((1L, 6, 8.0)), dir, cfg, 2L)
    val asOf = rootListings(dir)(IncrementalSwa.serveAsOf(spark, _, cfg,
      7 * DayUs, 2, 1L))
    val boundary = rootListings(dir)(IncrementalSwa.serve(spark, _, cfg,
      7 * DayUs, 2))
    assert((asOf, boundary) == ((1, 1)))
  }

  test("IncrementalBm25.serveAsOf resolves the generation once") {
    val cfg = IncrementalBm25.Config()
    val root = Spill.newPath(spark) + "/bm"
    IncrementalBm25.ingest(Seq((1L, "spark data"), (2L, "feature engine"))
      .toDF("doc_id", "text"), root, cfg, 0L)
    IncrementalBm25.ingest(Seq((3L, "data engine")).toDF("doc_id", "text"),
      root, cfg, 1L)
    val queries = Seq((10L, "data engine")).toDF("q_id", "q_text")
    assert(rootListings(root, "/idx")(IncrementalBm25.serveAsOf(spark, _,
      cfg, queries, 0L, k = 2)) == 1)
  }

  test("IncrementalHamming.admittedIds as of a version resolves the " +
      "generation once") {
    val cfg = IncrementalHamming.Config()
    val root = Spill.newPath(spark) + "/hm"
    IncrementalHamming.admit(Seq((1L, 0L), (2L, -1L)).toDF("doc_id", "sig64"),
      root, cfg, 3, 0L)
    IncrementalHamming.admit(Seq((10L, 1L)).toDF("doc_id", "sig64"),
      root, cfg, 3, 1L)
    assert(rootListings(root, "/sigs")(IncrementalHamming.admittedIds(
      spark, _, cfg, 3, asOfVersion = Some(0L))) == 1)
  }

  test("IncrementalIvfPq.queryAsOf resolves the generation once") {
    val vecs = (0 until 64).map { i =>
      (i.toLong, Array.tabulate(4)(d => if (d == i % 4) 10f else 0f)
        .map(_ + (i % 7) * 0.1f).toSeq)
    }.toDF("vec_id", "embedding")
    val root = Spill.newPath(spark) + "/ivf"
    IncrementalIvfPq.build(vecs.where(col("vec_id") < 48), root,
      nCells = 2, m = 2, kCodes = 4)
    IncrementalIvfPq.ingest(vecs.where(col("vec_id") >= 48), root,
      version = 1L)
    val queries = vecs.where(col("vec_id") % 8 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    assert(rootListings(root, "/vstore")(IncrementalIvfPq.queryAsOf(
      spark, _, queries, 0L, k = 3, nProbe = 2)) == 1)
  }
}
