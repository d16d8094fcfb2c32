package graft.operators

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** Operator spill-directory management. Operators that must cut
  * lineage / release internal caches (see [[Dedup.materialize]]) write
  * bounded intermediate results here instead of pinning block-manager
  * memory with `localCheckpoint`.
  *
  * `spark.graft.spillDir` points the spills at a durable shared
  * filesystem on a real cluster; the default (JVM temp dir) is correct
  * for local mode and is best-effort deleted on JVM exit.
  */
object Spill {
  private val created = mutable.Set.empty[String]
  private lazy val hook: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      created.synchronized(created.toSeq).foreach(p => deleteRecursively(Paths.get(p)))))
  }

  /** Write `df` to a fresh spill path and read it back: cuts the plan
    * lineage (downstream plans analyze against a flat parquet scan, not
    * the full upstream DAG — large multi-stage pipelines pay Catalyst
    * re-analysis of the whole lineage at every action otherwise) and
    * frees any upstream cache for release. The explicit schema makes an
    * all-empty result readable (no part files to infer from).
    */
  def roundTrip(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    roundTripSized(df)._1

  /** [[roundTrip]] plus the spilled size in bytes — a FREE exact size
    * measurement of a bounded intermediate (the files were just
    * written), which callers use for broadcast decisions that Catalyst's
    * pre-execution estimates get wrong (see
    * [[Dedup.minhashNearDuplicates]]'s verification semi-join).
    */
  def roundTripSized(df: org.apache.spark.sql.DataFrame): (org.apache.spark.sql.DataFrame, Long) = {
    val spark = df.sparkSession
    val path = newPath(spark)
    df.write.mode("overwrite").parquet(path)
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(hPath).getLength
    (spark.read.schema(df.schema).parquet(path), bytes)
  }

  /** The largest [[roundTripSized]] byte count an operator broadcasts:
    * `spark.graft.dedup.broadcastCandidatesBytes`, 16 MB by default.
    */
  private[graft] def broadcastLimit(spark: SparkSession): Long =
    spark.conf.get("spark.graft.dedup.broadcastCandidatesBytes", (16L << 20).toString).toLong

  def newPath(spark: SparkSession): String = {
    val base = spark.conf.get("spark.graft.spillDir",
      sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft-spill")
    val p = s"$base/spill-${java.util.UUID.randomUUID()}"
    hook
    created.synchronized { created += p }
    p
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      if (Files.isDirectory(p))
        Files.list(p).forEach(deleteRecursively)
      try Files.deleteIfExists(p) catch { case _: Throwable => }
    }
}
