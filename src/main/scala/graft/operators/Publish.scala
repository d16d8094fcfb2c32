package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.hadoop.fs.Path

/** Atomic generation pointer — the commit protocol that lets a reader
  * see a CONSISTENT dataset while a writer replaces it underneath.
  *
  * A published dataset lives as numbered generation directories
  * (`dir/gen=<g>/...`) plus one marker file per committed generation
  * (`dir/_gen_ready_<g>`). The marker is created with
  * `FileSystem.create(overwrite = false)` — a single atomic
  * create-no-overwrite on HDFS and object stores with conditional
  * put — and ONLY after the generation's data is fully written, so
  * readers resolving [[current]] (max committed marker) can never
  * observe a half-written generation. A crash anywhere in
  * [[publish]] leaves the previous pointer intact: either the new
  * data directory exists without its marker (invisible, GC'd later)
  * or nothing was written at all. No rename is needed — rename-based
  * pointers are not atomic-with-replace on HDFS (`rename` refuses an
  * existing destination) and not atomic at all on S3.
  *
  * Readers hold no locks: a reader that resolved generation g keeps
  * reading `gen=<g>/` files that [[gc]] may delete underneath it, so
  * [[gc]] takes a `keep` horizon (retain the last N committed
  * generations) — the reader-lease window, the same retention
  * contract Delta/Iceberg expose as `vacuum`/`expire_snapshots`.
  *
  * Single-writer per published dir (the nightly-refresh posture);
  * two concurrent publishers would race the same generation number
  * and the create-no-overwrite marker makes the loser FAIL loudly
  * rather than silently clobber.
  */
object Publish {
  private val MarkerPrefix = "_gen_ready_"

  def genPath(dir: String, g: Long): String = s"$dir/gen=$g"

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Committed generations, ascending (markers present — data dirs
    * may already be GC'd for old entries; [[current]] is the one a
    * reader should open).
    */
  def committed(spark: SparkSession, dir: String): Seq[Long] = {
    val f = fs(spark, dir)
    val p = new Path(dir)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).iterator
      .map(_.getPath.getName)
      .filter(_.startsWith(MarkerPrefix))
      .map(_.drop(MarkerPrefix.length).toLong)
      .toSeq.sorted
  }

  /** The live generation: highest committed marker, if any. */
  def current(spark: SparkSession, dir: String): Option[Long] =
    committed(spark, dir).lastOption

  /** Publish a new generation: `write` receives the fresh generation
    * directory to fill; the commit marker is created only after it
    * returns, then the new generation number is returned. A failure
    * (or crash) inside `write` leaves [[current]] unchanged.
    */
  def publish(spark: SparkSession, dir: String)(write: String => Unit): Long = {
    val g = current(spark, dir).map(_ + 1).getOrElse(0L)
    val target = genPath(dir, g)
    val f = fs(spark, dir)
    // a half-written gen=<g> from a previous crashed publish is
    // uncommitted garbage — clear it so this attempt starts clean
    val tp = new Path(target)
    if (f.exists(tp)) f.delete(tp, true)
    write(target)
    val marker = new Path(s"$dir/$MarkerPrefix$g")
    val out = f.create(marker, /* overwrite = */ false)
    out.close()
    g
  }

  /** Drop all but the newest `keep` committed generations — DATA
    * first, then marker: a crash between the two leaves a marker whose
    * data is gone, which the next [[gc]] pass retries and removes
    * (markers are how gc finds work). The reverse order would orphan
    * the data forever — with the marker gone, no later gc or publish
    * ever looks at that generation again. `keep >= 1`; the live
    * generation is never collected. Returns the number of generations
    * collected.
    */
  def gc(spark: SparkSession, dir: String, keep: Int = 2): Int = {
    require(keep >= 1, s"gc must keep at least the live generation (keep=$keep)")
    val f = fs(spark, dir)
    committed(spark, dir).dropRight(keep).count { g =>
      f.delete(new Path(genPath(dir, g)), true)
      f.delete(new Path(s"$dir/$MarkerPrefix$g"), false)
    }
  }
}
