package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.hadoop.fs.Path

import java.nio.charset.StandardCharsets

/** Cross-process single-writer lease for a state directory — the
  * enforcement of the "single writer per store" assumption every
  * incremental store documents ([[IncrementalSwa]], [[MergeLog]]):
  * two well-behaved jobs that BOTH believe they own the nightly
  * refresh must not interleave version writes, because additive state
  * double-counts and latest-wins resolves nondeterministically.
  *
  * Built on the same primitive as [[Publish]]'s commit marker: a
  * `FileSystem.create(overwrite = false)` of `dir/_writer_lease` is a
  * single atomic create-no-overwrite (conditional put on object
  * stores), so exactly one contender holds the lease and the loser
  * FAILS BY NAME (who holds it, how old it is) rather than corrupting
  * state. The lease carries a UUID token; [[release]] verifies the
  * token so a writer that lost its lease to a takeover cannot delete
  * the new holder's lease on the way out.
  *
  * Staleness: a holder that died cannot release, so a lease older
  * than `ttlMs` may be TAKEN OVER. Two timestamps with two distinct
  * jobs: the lease's AGE is judged from the live lease file's mtime
  * (the file at the lease path is never renamed in place, so its
  * mtime is its create time ON THE STORE'S CLOCK — a writer-carried
  * wall clock would let cross-machine skew larger than the ttl evict
  * a live holder); the lease's IDENTITY for the takeover/release
  * verification is the content triple (owner, token, creation time
  * written as the third line) — identity must survive the
  * rename-aside, and on object-store filesystems where rename is
  * copy+delete (S3A, the GCS connector) the copy gets a NEW mtime,
  * so an mtime-based identity check would fail on every takeover
  * there and a dead holder's lease could never be reclaimed. (A
  * partial lease write that lost its timestamp line falls back to
  * mtime for identity — such a lease was never renamed, so mtime is
  * still the create time.)
  * The takeover RENAMES the lease aside (atomic — fails for every
  * racer but one) and then VERIFIES the renamed-aside file is the
  * exact lease observed as stale, restoring it when it is not: a
  * racer never retires a lease it did not observe as stale. (A bare
  * delete+create pair would let the second racer remove the first
  * racer's brand-new lease — two holders; rename WITHOUT the verify
  * has the same ABA hole one step later.) A live long-running
  * writer must finish within the ttl (default 10 min,
  * `spark.graft.lease.ttlSeconds`) or its lease may be taken over by
  * a CONTENDING writer — its own release then fails by name.
  *
  * Crash-restart latency vs identity: with the default owner (the
  * Spark application id) a crashed job's successor is a DIFFERENT
  * owner and must wait out the ttl before takeover — the safe default.
  * A deployment that wants IMMEDIATE crash-restart reclaim sets
  * `spark.graft.lease.owner` to a stable writer identity (the Kafka
  * `transactional.id` pattern): a lease held by the SAME explicit
  * owner is reclaimed without waiting, under the deployer's contract
  * that at most one live writer runs per owner name. Reclaim never
  * applies to the application-id default — two threads of one app
  * must still exclude each other.
  */
object WriterLease {
  private val LeaseName = "_writer_lease"

  /** Held lease handle — pass to [[release]]. */
  final case class Lease(dir: String, owner: String, token: String)

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def leasePath(dir: String) = new Path(s"$dir/$LeaseName")

  private def ttlMs(spark: SparkSession): Long =
    spark.conf.get("spark.graft.lease.ttlSeconds", "600").toLong * 1000L

  /** The writer identity: `spark.graft.lease.owner` when configured
    * (stable across restarts — enables same-owner reclaim), else the
    * application id.
    */
  private def ownerOf(spark: SparkSession): String =
    spark.conf.getOption("spark.graft.lease.owner")
      .getOrElse(spark.sparkContext.applicationId)

  private def explicitOwner(spark: SparkSession): Boolean =
    spark.conf.getOption("spark.graft.lease.owner").isDefined

  /** (owner, token, createdMs). The creation time is the content's
    * third line when present (survives copy+delete renames); a partial
    * write falls back to the file's modification time — the file was
    * never renamed, so mtime still IS the create time.
    */
  private def readLeaseAt(f: org.apache.hadoop.fs.FileSystem,
      p: Path): Option[(String, String, Long)] = {
    if (!f.exists(p)) None
    else {
      val st = f.getFileStatus(p)
      val in = f.open(p)
      val content =
        try new String(in.readAllBytes(), StandardCharsets.UTF_8)
        finally in.close()
      content.split("\n", 3) match {
        case Array(o, t, c) if c.trim.forall(_.isDigit) && c.trim.nonEmpty =>
          Some((o, t.trim, c.trim.toLong))
        case Array(o, t, _) => Some((o, t.trim, st.getModificationTime))
        case Array(o, t) => Some((o, t.trim, st.getModificationTime))
        case _ => // partial write: held, unknown token
          Some((content.trim, "", st.getModificationTime))
      }
    }
  }

  private[graft] def readLease(spark: SparkSession, dir: String): Option[(String, String, Long)] =
    readLeaseAt(fs(spark, dir), leasePath(dir))

  /** Age of the lease ON THE STORE'S CLOCK (live-lease file mtime) —
    * the same authority [[acquire]]'s ttl reasoning uses; None when no
    * lease file exists (or it vanished mid-read).
    */
  private[operators] def leaseAgeMs(spark: SparkSession,
      dir: String): Option[Long] = {
    val f = fs(spark, dir)
    val p = leasePath(dir)
    try {
      if (!f.exists(p)) None
      else Some(math.max(0L,
        System.currentTimeMillis() - f.getFileStatus(p).getModificationTime))
    } catch { case _: java.io.IOException => None }
  }

  private def tryCreate(spark: SparkSession, dir: String,
      owner: String): Option[Lease] = {
    val f = fs(spark, dir)
    f.mkdirs(new Path(dir))
    val token = java.util.UUID.randomUUID().toString
    try {
      val out = f.create(leasePath(dir), /* overwrite = */ false)
      try out.write(s"$owner\n$token\n${System.currentTimeMillis()}"
        .getBytes(StandardCharsets.UTF_8))
      finally out.close()
      Some(Lease(dir, owner, token))
    } catch {
      case _: java.io.IOException => None // exists: somebody holds it
    }
  }

  /** Atomically claim the right to replace the OBSERVED stale lease:
    * rename the lease path aside (exactly one racer wins the rename —
    * the loser's source is gone), VERIFY the renamed-aside file is the
    * lease that was observed as stale, then create fresh. Returns None
    * if the rename lost, the create lost, or the verification failed.
    *
    * The verification closes an ABA race: rename arbitrates "a file at
    * the lease path", not "the lease we judged stale". If two racers
    * both observe the same stale lease, racer 1 may rename-aside and
    * create a FRESH lease before racer 2's rename runs — racer 2's
    * rename then evicts racer 1's live lease. Comparing the tomb's
    * owner/token/creation-time against the observation detects this;
    * the tomb is renamed back so the live holder stays protected.
    * (The creation time is carried IN the lease content, so the
    * comparison is stable across the rename even on object stores
    * whose rename is copy+delete and rewrites mtime.) If a THIRD racer
    * slips a fresh lease into the brief vacancy before the rename-back,
    * the restore fails and the evicted holder is left unprotected —
    * but it then fails BY NAME at its own release (lease file gone),
    * so the degradation is loud detection, never a silent second writer.
    */
  private[graft] def takeOver(spark: SparkSession, dir: String, owner: String,
      observed: (String, String, Long)): Option[Lease] = {
    val f = fs(spark, dir)
    val tomb = new Path(
      s"$dir/${LeaseName}_taken_${java.util.UUID.randomUUID()}")
    val won =
      try f.rename(leasePath(dir), tomb)
      catch { case _: java.io.IOException => false }
    if (!won) None
    else {
      val isObserved = readLeaseAt(f, tomb).contains(observed)
      if (isObserved) {
        f.delete(tomb, false)
        // between our rename and create another acquirer may slip in a
        // fresh lease; its create and ours are arbitrated atomically
        tryCreate(spark, dir, owner)
      } else {
        try f.rename(tomb, leasePath(dir))
        catch { case _: java.io.IOException => () }
        None
      }
    }
  }

  /** Acquire the writer lease on `dir` or fail by name. A lease older
    * than the ttl is presumed abandoned and taken over; a lease held
    * by the SAME explicitly-configured owner is reclaimed immediately
    * (crash-restart, the `transactional.id` pattern).
    */
  def acquire(spark: SparkSession, dir: String, owner: String): Lease =
    tryCreate(spark, dir, owner).getOrElse {
      readLease(spark, dir) match {
        case None =>
          // holder released between our create and read: one retry
          tryCreate(spark, dir, owner).getOrElse(
            throw new IllegalStateException(
              s"writer lease on $dir is contended — another writer " +
                "acquired it concurrently; retry after it finishes"))
        case Some(observed @ (holder, _, _)) =>
          // age from the LIVE lease file's mtime — the store's clock,
          // not the (possibly skewed) writer's content-carried clock;
          // the file vanishing between read and stat means the holder
          // released: age 0 routes to the contended-retry error below
          val mtime =
            try fs(spark, dir).getFileStatus(leasePath(dir))
              .getModificationTime
            catch { case _: java.io.IOException =>
              System.currentTimeMillis() }
          val ageMs = System.currentTimeMillis() - mtime
          val sameExplicit = holder == owner && explicitOwner(spark)
          if (ageMs <= ttlMs(spark) && !sameExplicit)
            throw new IllegalStateException(
              s"store at $dir is locked by writer '$holder' " +
                s"(lease ${ageMs / 1000}s old, ttl ${ttlMs(spark) / 1000}s) — " +
                "two concurrent writers would interleave version writes. " +
                "If the holder is live, wait for it (or raise " +
                "spark.graft.lease.ttlSeconds if it legitimately runs " +
                "long); if it crashed, the lease clears itself after the " +
                "ttl, or set spark.graft.lease.owner to a stable writer " +
                "identity for immediate crash-restart reclaim")
          else
            takeOver(spark, dir, owner, observed).getOrElse(
              throw new IllegalStateException(
                s"lost the lease takeover race on $dir (previous holder " +
                  s"'$holder', ${ageMs / 1000}s old) — another writer " +
                  "took it first; retry after it finishes"))
      }
    }

  /** Release a held lease. Fails by name if the lease was taken over —
    * whether the new holder still holds it (token mismatch) or already
    * finished and released (file gone): either way this writer's later
    * writes ran WITHOUT the lease and may have interleaved.
    *
    * Token verification rides the same atomic rename arbitration as
    * [[takeOver]]: a read-token-then-delete pair would race a takeover
    * happening between the two steps (possible once this holder is past
    * the ttl) and delete the NEW holder's fresh lease. Renaming FIRST
    * means whatever file we verify is exactly the file we removed from
    * the lease path; a mismatched tomb (we evicted a taker-over's fresh
    * lease) is renamed back before failing.
    */
  def release(spark: SparkSession, lease: Lease): Unit = {
    val f = fs(spark, lease.dir)
    val tomb = new Path(
      s"${lease.dir}/${LeaseName}_released_${java.util.UUID.randomUUID()}")
    val won =
      try f.rename(leasePath(lease.dir), tomb)
      catch { case _: java.io.IOException => false }
    if (!won)
      throw new IllegalStateException(
        s"writer lease on ${lease.dir} held by '${lease.owner}' is " +
          "GONE at release — it was taken over (and the new holder " +
          "already finished); writes after the takeover may have " +
          "interleaved — verify the store's version log before " +
          "trusting this run")
    val tombLease = readLeaseAt(f, tomb)
    if (tombLease.exists(_._2 == lease.token)) {
      f.delete(tomb, false)
    } else {
      val holder = tombLease.map(_._1).getOrElse("<unreadable>")
      // restore the live holder's lease we just renamed aside. The
      // restore can lose to a third acquirer slipping into the brief
      // vacancy — then the evicted holder is unprotected until its own
      // release detects the loss; SAY SO rather than failing silently.
      val restored =
        try f.rename(tomb, leasePath(lease.dir))
        catch { case _: java.io.IOException => false }
      throw new IllegalStateException(
        s"writer lease on ${lease.dir} held by '${lease.owner}' was " +
          s"TAKEN OVER by '$holder' (this writer exceeded the lease " +
          "ttl, or shares an explicit owner name with a live writer); " +
          "writes after the takeover may have interleaved — verify the " +
          "store's version log before trusting this run" +
          (if (restored) ""
           else s" — AND the holder's lease could not be restored " +
             s"(another acquirer claimed the dir; its lease file " +
             s"remains aside at $tomb): '$holder' now runs unprotected " +
             "until its own release detects the loss"))
    }
  }

  /** Run `f` under the lease, releasing on every path. A takeover
    * detected at release time surfaces even when `f` itself succeeded
    * — unless `f` threw first (its failure is the primary error).
    */
  def withLease[A](spark: SparkSession, dir: String, owner: String)(f: => A): A = {
    val lease = acquire(spark, dir, owner)
    var primary: Throwable = null
    try f
    catch { case t: Throwable => primary = t; throw t }
    finally {
      try release(spark, lease)
      catch { case r: Throwable => if (primary == null) throw r }
    }
  }

  /** [[withLease]] as this engine's writer ([[ownerOf]]): the one wrap
    * around every leased write path — the incremental stores' ingests
    * and folds, [[MergeLog]]'s appends and compactions, the curation
    * lineage's mutations.
    */
  private[operators] def locked[A](spark: SparkSession, dir: String)(
      f: => A): A =
    withLease(spark, dir, ownerOf(spark))(f)
}
