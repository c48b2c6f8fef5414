package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.sql.SparkSession

/** Single-writer lease for store MAINTENANCE — the concurrency half of
  * the crash-safety story. The staging+journal protocol makes
  * compaction/purge/expiry crash-SAFE, but none of it defends against
  * a CONCURRENT writer: an appender landing `batch=N` during the
  * stage-and-swap window writes into a directory set the journal's `D`
  * lines are about to delete (silent loss), and two maintenance calls
  * racing would interleave two journals' mutations. At 100 TB,
  * maintenance and ingest are different jobs on different schedules —
  * "requires the writing stream stopped" must be ENFORCED, not
  * documented.
  *
  * Protocol: a `_maintenance_lease` file at the store root holding
  * `<holder> <expiryMillis>`. Maintenance [[acquire]]s before touching
  * anything and [[release]]s after; long rewrites [[renew]]. Appenders
  * call [[refuseIfHeld]] before writing their partition — a live lease
  * refuses the batch LOUDLY (foreachBatch fails, the stream's
  * checkpoint does not commit, and the batch replays after the lease
  * clears: exactly-once is preserved, nothing is silently dropped).
  *
  * Liveness: a crashed maintenance job cannot release, so a lease
  * EXPIRES — [[acquire]] steals one whose expiry has passed. The steal
  * renames the expired file to a nonce name first (rename is the
  * one winner-takes-all primitive every Hadoop filesystem gives us:
  * exactly one racing stealer's rename succeeds; create-after-delete
  * would let a slow stealer destroy the fast one's fresh lease).
  * Creation itself uses create(overwrite = false), which refuses if a
  * rival landed first, then reads back and verifies the holder.
  *
  * The lease file's `_` prefix keeps it invisible to the layout
  * readers (same convention as `_batch_ts`/`_quarantine`). A crashed
  * run's un-expired lease blocks recovery until the TTL passes —
  * deliberately: the crashed job could still be alive and mid-swap.
  * An operator who KNOWS it is dead breaks the lease with [[break]].
  */
private[graft] object MaintenanceLease {

  val LeaseFile = "_maintenance_lease"

  /** Default time-to-live: long enough for a full store rewrite at
    * test scale, short enough that a crashed job's lease clears within
    * one maintenance cadence. Production rewrites should renew. */
  val DefaultTtlMs: Long = 15L * 60L * 1000L

  final case class Lease(dir: String, holder: String, expiresAt: Long)

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  private def leasePath(dir: String): Path = new Path(dir, LeaseFile)

  /** The lease on disk, live or expired: (holder, expiryMillis). A
    * torn/unparseable file reads as LIVE FOREVER under "<corrupt>" —
    * the safe direction: it can only arise from a crash (or a
    * concurrent reader catching a non-atomic renewal write mid-flush),
    * and treating it as expired would let an appender slip through
    * during the exact stage-and-swap window the lease freezes.
    * Appenders refusing transiently just replay their batch; a
    * PERSISTENTLY torn file is operator territory ([[break]]).
    *
    * The read is checksum-verified, and a renewal replaces the data
    * file and its `.crc` sidecar in two renames, so a read racing one
    * can pair the new data with the old checksum until the second
    * rename lands. That mismatch is retried with a doubling backoff
    * (1 ms, then 2, 4, ... — ~0.25 s in all, which outlasts a renewer
    * paused between its two renames); a mismatch that persists is real
    * corruption and is rethrown. */
  private def readLease(fs: FileSystem, p: Path): Option[(String, Long)] =
    if (!fs.exists(p)) None
    else {
      def text(attempt: Int): String =
        try {
          val in = fs.open(p)
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
          finally in.close()
        } catch {
          case _: org.apache.hadoop.fs.ChecksumException
              if attempt < ChecksumAttempts =>
            Thread.sleep(1L << (attempt - 1))
            text(attempt + 1)
        }
      text(1).split(" ") match {
        case Array(h, e) if e.toLongOption.isDefined => Some((h, e.toLong))
        case _ => Some(("<corrupt>", Long.MaxValue))
      }
    }

  private val ChecksumAttempts = 9

  private def write(fs: FileSystem, p: Path, holder: String,
      expiresAt: Long): Unit = {
    val out = fs.create(p, false) // refuses if a rival landed first
    try out.write(s"$holder $expiresAt".getBytes("UTF-8"))
    finally out.close()
  }

  /** Extend a LIVE own lease in place, atomically: the fresh content
    * is staged under a nonce name and renamed over the lease file with
    * `Options.Rename.OVERWRITE` — one filesystem operation, so an
    * appender's [[refuseIfHeld]] never observes a missing lease
    * mid-renewal (the gap a rename-away-then-recreate renewal would
    * open is exactly the stage-and-swap window the lease freezes). A
    * bare `create(overwrite = true)` would be just as gapless but is a
    * non-atomic read-then-clobber: if the lease expired in the
    * microseconds since the caller's read and a rival completed the
    * steal, the overwrite silently replaces the rival's fresh lease —
    * with the atomic replace the file deterministically names ONE
    * holder, and the loser's commit-point [[verifyHeld]] aborts it. */
  private def replaceLive(spark: SparkSession, dir: String,
      holder: String, expiresAt: Long): Unit = {
    val p = leasePath(dir)
    val fs = fsOf(spark, p)
    val tmp = new Path(dir,
      s"$LeaseFile.renew-${java.util.UUID.randomUUID().toString.take(8)}")
    val out = fs.create(tmp, true)
    try out.write(s"$holder $expiresAt".getBytes("UTF-8"))
    finally out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      fs.getUri, spark.sessionState.newHadoopConf())
    fc.rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Acquire the store's maintenance lease or refuse loudly. A live
    * lease held by someone else throws (naming holder and expiry); an
    * expired one is stolen via the rename race. Re-entrant for the
    * same holder name while the lease is LIVE: re-acquiring extends
    * the expiry ([[renew]]). An EXPIRED own lease is NOT silently
    * re-extended — liveness is lost (a rival may have stolen,
    * committed, and released in the meantime, and "renewing" would
    * resurrect a dead lease over state someone else has since
    * rewritten); it throws, and the pass must abort. */
  def acquire(spark: SparkSession, dir: String, holder: String,
      ttlMs: Long = DefaultTtlMs,
      nowMillis: Long = System.currentTimeMillis()): Lease = {
    val p = leasePath(dir)
    val fs = fsOf(spark, p)
    readLease(fs, p) match {
      case Some((h, exp)) if h == holder && exp > nowMillis =>
        // our own, live (a composite op re-entering its sub-ops, or a
        // renewal between rewrite phases): extend atomically
        replaceLive(spark, dir, holder, nowMillis + ttlMs)
        verifyHeld(spark, dir, holder)
        Lease(dir, holder, nowMillis + ttlMs)
      case Some((h, exp)) if h == holder =>
        throw new IllegalStateException(
          s"store at $dir: '$holder's own maintenance lease expired " +
            s"${nowMillis - exp} ms ago — the TTL was outrun (renew " +
            "between phases on long rewrites); a rival may already have " +
            "stolen, committed, and released, so re-extending would " +
            "resurrect a dead lease over rewritten state; aborting")
      case Some((h, exp)) if exp > nowMillis =>
        throw new IllegalStateException(
          s"store at $dir is under maintenance by '$h' (lease expires in " +
            s"${exp - nowMillis} ms) — refusing to run a second " +
            "maintenance pass concurrently; wait for the lease or, if " +
            s"'$h' is known dead, MaintenanceLease.break the store")
      case Some((h, _)) =>
        // expired: exactly one stealer wins the rename
        val tomb = new Path(dir,
          s"$LeaseFile.stolen-${java.util.UUID.randomUUID().toString.take(8)}")
        if (!fs.rename(p, tomb))
          throw new IllegalStateException(
            s"store at $dir: lost the race to steal '$h's expired " +
              "maintenance lease — another maintenance job is taking over")
        fs.delete(tomb, false)
        write(fs, p, holder, nowMillis + ttlMs)
        verifyHeld(spark, dir, holder)
        Lease(dir, holder, nowMillis + ttlMs)
      case None =>
        try write(fs, p, holder, nowMillis + ttlMs)
        catch {
          case e: java.io.IOException =>
            throw new IllegalStateException(
              s"store at $dir: another maintenance job acquired the lease " +
                "first — refusing to run concurrently", e)
        }
        verifyHeld(spark, dir, holder)
        Lease(dir, holder, nowMillis + ttlMs)
    }
  }

  /** Extend a held lease (long rewrites call this between phases). */
  def renew(spark: SparkSession, lease: Lease,
      ttlMs: Long = DefaultTtlMs,
      nowMillis: Long = System.currentTimeMillis()): Lease =
    acquire(spark, lease.dir, lease.holder, ttlMs, nowMillis)

  /** Throw unless `holder` currently holds the store's lease — the
    * guard sub-ops run under a caller-held lease. */
  def verifyHeld(spark: SparkSession, dir: String, holder: String): Unit = {
    val p = leasePath(dir)
    readLease(fsOf(spark, p), p) match {
      case Some((h, _)) if h == holder => ()
      case Some((h, _)) => throw new IllegalStateException(
        s"store at $dir: maintenance lease is held by '$h', not " +
          s"'$holder' — the lease was stolen mid-run (TTL too short for " +
          "this rewrite? renew between phases); aborting before touching " +
          "the store")
      case None => throw new IllegalStateException(
        s"store at $dir: expected to hold the maintenance lease as " +
          s"'$holder' but no lease exists — it was broken mid-run; " +
          "aborting before touching the store")
    }
  }

  /** Release a held lease. Releasing one that was stolen (holder
    * mismatch) is a no-op — the thief's lease is not ours to delete.
    * The delete goes through the same winner-takes-all rename the
    * steal path uses (rename to a nonce, verify the moved content is
    * OURS, then delete): a bare read-then-delete could remove a
    * thief's fresh lease that replaced ours between the read and the
    * delete, silently reopening the append window during the thief's
    * stage-and-swap. If the moved file turns out to be the thief's,
    * it is renamed back; if yet another lease landed at the path in
    * that instant, the thief aborts at its next [[verifyHeld]] — a
    * loud refusal, never a silent second writer. */
  def release(spark: SparkSession, lease: Lease): Unit = {
    val p = leasePath(lease.dir)
    val fs = fsOf(spark, p)
    readLease(fs, p) match {
      case Some((h, _)) if h == lease.holder =>
        val nonce = new Path(lease.dir,
          s"$LeaseFile.released-${java.util.UUID.randomUUID().toString.take(8)}")
        // a failed rename means the file was already moved (a racing
        // steal in progress) — whatever lands at the path is not ours
        if (!fs.rename(p, nonce)) return
        readLease(fs, nonce) match {
          case Some((h2, _)) if h2 == lease.holder =>
            fs.delete(nonce, false)
          case _ =>
            // we yanked a thief's fresh lease — restore it; if yet
            // another lease landed at p meanwhile, drop the nonce and
            // let the thief's verifyHeld refuse loudly
            if (!fs.rename(nonce, p)) fs.delete(nonce, false)
        }
        ()
      case _ => ()
    }
  }

  /** Forcibly clear the store's lease — the operator override for a
    * crashed job known dead before its TTL. */
  def break(spark: SparkSession, dir: String): Unit = {
    val p = leasePath(dir)
    val fs = fsOf(spark, p)
    if (fs.exists(p)) fs.delete(p, false)
  }

  /** The APPEND-path guard: throw while a live maintenance lease
    * exists. Called by every `batch=N` writer before it touches the
    * store; the failed foreachBatch leaves the checkpoint uncommitted,
    * so the batch replays intact once maintenance releases. */
  def refuseIfHeld(spark: SparkSession, dir: String, what: String,
      nowMillis: Long = System.currentTimeMillis()): Unit = {
    val p = leasePath(dir)
    readLease(fsOf(spark, p), p) match {
      case Some((h, exp)) if exp > nowMillis =>
        throw new IllegalStateException(
          s"store at $dir is under maintenance by '$h' (lease expires " +
            s"in ${exp - nowMillis} ms) — refusing to $what during the " +
            "stage-and-swap window; the batch will replay after the " +
            "lease clears")
      case _ => ()
    }
  }
}
