package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Local SF-axis generator for the core-scaling probe (r16): writes a
  * `mult`×-replicated copy of an sf fixture dir so the heavy batch
  * queries can be measured at 8 vs 32 cores on data big enough for
  * parallelism to matter (at sf0.1 every gate is driver-gap-bound and
  * 8 cores beats 32 — r15 verdict #3).
  *
  * Replication follows the ScaleProbe disciplines so the generated
  * corpus keeps the fixtures' statistical shape instead of planting
  * artifacts:
  *  - documents: distinct ids (+i·10⁷); replica text is INJECTIVELY
  *    vowel-rewritten (cross-replica jaccard ≈ 0 — no artificial
  *    near-dup cliques, no query-term df growth for the base-doc BM25
  *    query load) plus a stopword-rich suffix (replicas still pass the
  *    gopher quality gate, so the curate funnel sees a mult× corpus,
  *    not the base one); n_chars recomputed (= length(text), the
  *    fixture convention).
  *  - events: distinct event ids (+i·10⁷), timestamps jittered +37i s
  *    (window DENSITY grows mult× on the same keys — the regime a
  *    100 TB deployment lives in). Read/written RAW (no EventTime
  *    normalize) so the physical ts encoding is preserved.
  *  - embeddings: distinct ids (+i·10⁷).
  *  - the small TPC-H-ish dims (region…orders, lineitem) copy verbatim
  *    — the probed queries don't scale with them.
  *
  * Usage: SPARK_GRAFT_CPUS=32 runMain graft.tools.GenScale <dst> <mult> [nFiles]
  * (src defaults to /root/testdata/sf0.1). Deterministic: same src +
  * mult ⇒ identical output data. `nFiles` (default = cpus) controls
  * the output file count of the scaled tables: a real crawl-scale
  * corpus is many-file, and scan parallelism on a generated fixture is
  * bounded by split packing (`openCostInBytes` charges 4 MB/file, one
  * parquet row group never splits) — at the default 32 files a 200 MB
  * corpus scans with 2-3 tasks, which caps every per-document stage
  * and understates how the plans use cores. ~1000 files gives ~30+
  * splits at any size worth probing.
  */
object GenScale {
  private val Consonants = "bcdfghjklmnpqrstvwxz"

  /** How many distinct vowel rewrites exist: the 5-permutations of the
    * 20 consonants.
    */
  val VowelMaps: Int = (16 to 20).product

  /** The consonants replica `i` writes for "aeiou": the i-th
    * 5-permutation of the 20 consonants (digits of `i` in the mixed
    * radix 20·19·18·17·16, each picking from the consonants not yet
    * taken). Each replica maps the five vowels to five distinct
    * consonants, so words that differ only in a vowel stay apart, and
    * no two replicas share a map, so cross-replica jaccard stays about 0.
    */
  def vowelMap(i: Int): String = {
    require(i >= 0 && i < VowelMaps, s"replica $i: only $VowelMaps distinct vowel maps")
    var rest = Consonants
    var n = i
    (0 until 5).map { _ =>
      val c = rest(n % rest.length)
      n /= rest.length
      rest = rest.filterNot(_ == c)
      c
    }.mkString
  }

  def main(args: Array[String]): Unit = {
    val dst = args(0)
    val mult = args(1).toInt
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val nFiles = args.drop(2).headOption.map(_.toInt).getOrElse(cpus.toInt)
    require(mult >= 1, s"mult must be >= 1: $mult")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def replicate(df: DataFrame)(one: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until mult).map(i => one(df, i)).reduce(_ unionByName _)

    val docs = spark.read.parquet(s"$src/documents.parquet")
    replicate(docs) { (d, i) =>
      if (i == 0) d
      else d
        .withColumn("doc_id", col("doc_id") + lit(i.toLong * 10000000L))
        .withColumn("text", concat(translate(col("text"), "aeiou", vowelMap(i)),
          lit(" the of and to in is that with some more")))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }.repartition(nFiles).write.mode("overwrite")
      .parquet(s"$dst/documents.parquet")

    val events = spark.read.parquet(s"$src/events.parquet")
    replicate(events) { (e, i) =>
      e.withColumn("event_id", col("event_id") + lit(i.toLong * 10000000L))
        .withColumn("ts", col("ts") + expr(s"INTERVAL ${i * 37} SECONDS"))
    }.repartition(nFiles).write.mode("overwrite")
      .parquet(s"$dst/events.parquet")

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    replicate(emb) { (e, i) =>
      e.withColumn("vec_id", col("vec_id") + lit(i.toLong * 10000000L))
    }.repartition(nFiles).write.mode("overwrite")
      .parquet(s"$dst/embeddings.parquet")

    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem"))
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")

    println(s"[genscale] wrote $dst = $src x$mult")
    spark.stop()
  }
}
