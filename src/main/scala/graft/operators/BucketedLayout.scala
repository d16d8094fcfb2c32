package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed (hash-clustered) parquet layout for shuffle-free repeated
  * joins — the 100 TB posture for the feature-store's hottest pattern:
  * materialized per-entity feature tables joined against observation
  * spines by entity key, nightly, forever (reference materialization
  * contract: feathr-rs/src/job_client/mod.rs sink config; SURVEY §2.8).
  *
  * A plain parquet feature table pays a full hash-partition shuffle of
  * BOTH join sides on EVERY downstream join. Writing it
  * `bucketBy(n, key)` pays that shuffle exactly once, at write time:
  * Catalyst reads the bucket spec from the catalog, reports the scan as
  * already hash-clustered on the key, and plans later equi-joins with
  * NO Exchange on the bucketed side — two tables bucketed to the same
  * (key, n) sort-merge join with zero shuffles at any data size.
  * `sortBy` additionally pre-orders rows inside each bucket file so the
  * merge phase skips its sort.
  *
  * Spark only honors bucket specs through the catalog (a bare
  * `spark.read.parquet(path)` sees anonymous files), so tables are
  * registered by NAME with an explicit external `path` — the data
  * stays plain parquet readable by any engine; only the metadata makes
  * it co-located.
  */
object BucketedLayout {

  /** Write `df` as an external bucketed parquet table at `path`,
    * replacing any prior table of the same name (idempotent across
    * bench reruns). Buckets and in-file order are both by `bucketCols`
    * unless `sortCols` overrides the order.
    */
  def write(df: DataFrame, table: String, path: String,
      bucketCols: Seq[String], nBuckets: Int,
      sortCols: Seq[String] = Nil): Unit = {
    require(bucketCols.nonEmpty && nBuckets > 0,
      s"bad bucket spec: $bucketCols x $nBuckets")
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val sorts = if (sortCols.nonEmpty) sortCols else bucketCols
    df.write.format("parquet")
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(sorts.head, sorts.tail: _*)
      .option("path", path)
      .mode("overwrite")
      .saveAsTable(table)
  }

  /** The catalog-backed (bucket-aware) view of a written table. */
  def table(spark: SparkSession, name: String): DataFrame = spark.table(name)

  /** Number of `Exchange hashpartitioning` operators in the executed
    * plan — the check both the spec and SCALE.md axis 15 use to prove
    * a bucketed join stayed shuffle-free.
    */
  def shuffleCount(df: DataFrame): Int =
    "Exchange hashpartitioning".r
      .findAllIn(df.queryExecution.executedPlan.toString).size
}
