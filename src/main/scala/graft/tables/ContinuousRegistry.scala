package graft.tables

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

/** Cross-session registration for continuous materialized-view
  * refresh loops (`REFRESH MATERIALIZED VIEW ... CONTINUOUS`).
  *
  * A JVM-local map alone cannot arbitrate the loop across sessions:
  * a second session's START cannot see the first's running query, so
  * two sessions could double-drive one view, and `STOP REFRESH` from
  * anywhere but the starting session had nothing to stop. The
  * arbitration therefore lives WHERE everything else here lives — in
  * storage: a heartbeat LEASE file under the view root
  * (`_continuous_lease.json`).
  *
  * Contract:
  *  - START takes the lease ATOMICALLY (hard-link claim — link(2)
  *    fails if the slot exists, the same primitive the commit log
  *    uses, GraftTable.writeCommit) after refusing while another
  *    session's lease is FRESH. Two concurrent STARTs racing for an
  *    absent (or just-expired) lease resolve to EXACTLY ONE winner:
  *    the loser's link fails and it refuses immediately — no
  *    last-write-wins window, no redundant loop ever starts.
  *  - The lease carries ITS OWN stale window, scaled to the trigger
  *    interval (max(configured, 3× interval)): a healthy
  *    `EVERY '5 minutes'` loop heartbeats every 5 minutes, so a flat
  *    60 s window would read stale ~80% of the time and the
  *    double-start refusal would be toothless for any interval over
  *    a minute. Readers honor the WRITER's window (it rides in the
  *    file), so the refusal holds however the two sessions'
  *    configurations differ.
  *  - A crashed loop stops heartbeating; once the lease is stale a
  *    later START takes over cleanly (the stale file is atomically
  *    moved aside, then the slot re-claimed by link — concurrent
  *    takeovers again resolve to one winner). Crash debris never
  *    wedges a restart.
  *  - STOP from the owning session stops the query and releases the
  *    lease. STOP from ANY OTHER session releases the lease file; the
  *    owner's next heartbeat sees the loss and self-terminates
  *    (refresh is watermark-idempotent, so the epoch boundary is a
  *    safe stop point). A zombie loop resuming after a stale takeover
  *    dies the same way — at worst one redundant refresh races, and
  *    the view's transactional watermark makes that a no-op.
  *
  * Locking (one registry per session process): check-then-act
  * sequences run under the registry lock, but the stream START itself
  * runs OUTSIDE it — a slow source start must not serialize every
  * other view's START/STOP — with a `Starting` sentinel holding the
  * slot.
  */
private[graft] final class ContinuousRegistry {
  import ContinuousRegistry._

  /** This registry's identity — one per session process. */
  val ownerId: String = java.util.UUID.randomUUID().toString

  private val local = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  // stale window this session claimed each root's lease under: the
  // heartbeat re-writes the SAME window the claim advertised
  private val claimedStale = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Start the continuous loop for the view at `root` (absolute
    * path). Refuses while a live local query or a fresh foreign
    * lease exists; claims the lease atomically (exactly one of any
    * number of concurrent STARTs wins).
    */
  def start(spark: SparkSession, root: String,
      interval: String): StreamingQuery =
    start(spark, root, interval, beforeEpoch =>
      IncrementalMatView.continuous(spark, root,
        Paths.get(root, "_continuous_cp").toString,
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(interval),
        beforeEpoch = Some(beforeEpoch)))

  /** Generalized form: the lease/heartbeat arbitration wrapped around
    * ANY caller-supplied loop (the ANN index's continuous maintenance
    * rides here too, not just maintained views). `loop` receives the
    * per-epoch heartbeat and must invoke it ahead of each cycle — its
    * throw is the cross-session stop/takeover signal and must
    * propagate (terminating the stream at an epoch boundary).
    */
  def start(spark: SparkSession, root: String, interval: String,
      loop: (() => Unit) => StreamingQuery): StreamingQuery = {
    val stale = math.max(staleMs(spark, root), 3L * intervalMillis(interval))
    synchronized {
      local.get(root) match {
        case q: StreamingQuery if q.isActive =>
          throw new IllegalArgumentException(
            s"continuous refresh already running for $root; " +
              "STOP REFRESH MATERIALIZED VIEW first")
        case Starting =>
          throw new IllegalArgumentException(
            s"continuous refresh already starting for $root")
        case q: StreamingQuery =>
          // a dead registration (self-terminated zombie, crashed
          // epoch) must not wedge the view — drop it and proceed
          local.remove(root, q)
        case _ => ()
      }
      // the atomic claim: refuse on a fresh foreign lease, move a
      // stale one aside, then hard-link the slot — concurrent STARTs
      // (this process or another) resolve to exactly one winner
      claimLease(root, stale)
      claimedStale.put(root, stale)
      local.put(root, Starting)
    }
    try {
      val q = loop(() => heartbeat(root))
      local.put(root, q)
      q
    } catch {
      case e: Throwable =>
        local.remove(root)
        releaseIfOwned(root)
        throw e
    }
  }

  /** Per-epoch heartbeat: re-assert OUR lease, or — if it was
    * released (cross-session STOP) or taken over (stale expiry) —
    * throw, terminating this loop instead of double-driving the view.
    */
  private def heartbeat(root: String): Unit =
    readLease(root) match {
      case Some(l) if l.owner == ownerId => writeLease(root,
        Option(claimedStale.get(root)).map(_.longValue).getOrElse(l.staleMs))
      case _ => throw new IllegalStateException(
        s"continuous-refresh lease for $root was released or taken " +
          "over by another session; stopping this loop")
    }

  /** Stop the loop for `root`. Local query whose lease is OURS (or
    * absent): synchronous stop + lease release (returns true).
    * Anything under a FOREIGN lease — no local registration, or a
    * local query (live zombie or dead) displaced by a takeover —
    * stops any local query, then releases the lease file so the
    * foreign owner self-terminates at its next heartbeat (returns
    * false: asynchronous). No query and no lease: error.
    */
  def stop(root: String): Boolean = {
    val q = synchronized {
      local.get(root) match {
        case s: AnyRef if s eq Starting =>
          throw new IllegalArgumentException(
            s"continuous refresh for $root is still starting; retry")
        case query: StreamingQuery => Some(query)
        case _ => None
      }
    }
    q match {
      // a local query (live OR dead) whose lease now belongs to
      // another session is NOT ours to stop synchronously: a live
      // one is a zombie that would die at its next heartbeat anyway,
      // a dead one already did, and either way the FOREIGN loop is
      // the one driving the view. Stop the local query, release the
      // foreign lease so its owner self-terminates at its next
      // heartbeat, and report false (asynchronous) — never a false
      // synchronous success while a foreign loop keeps refreshing.
      case Some(query) if readLease(root).forall(_.owner == ownerId) =>
        // deregister only AFTER a successful stop: a stop() that
        // throws leaves the registration in place, so a later START
        // still refuses while the stream may yet be running
        query.stop()
        synchronized { local.remove(root, query) }
        releaseIfOwned(root)
        true
      case other =>
        other.foreach { query =>
          if (query.isActive) query.stop()
          synchronized { local.remove(root, query) }
        }
        if (readLease(root).isEmpty) throw new IllegalArgumentException(
          s"no continuous refresh running for $root")
        Files.deleteIfExists(leasePath(root))
        false
    }
  }

  /** Refuse / take over / claim, atomically. Called under the
    * registry lock; cross-PROCESS atomicity comes from link(2).
    */
  private def claimLease(root: String, stale: Long): Unit = {
    readLease(root) match {
      case Some(l) if l.owner != ownerId &&
          System.currentTimeMillis() - l.ts < math.max(stale, l.staleMs) =>
        throw new IllegalArgumentException(
          s"continuous refresh already running for $root " +
            s"(lease held by session ${l.owner}; STOP REFRESH releases " +
            s"it, or it expires ${math.max(stale, l.staleMs)} ms after " +
            "the last heartbeat)")
      case Some(observed) =>
        // stale debris (or our own leftover): move it aside — atomic,
        // so of N concurrent takeovers exactly one move succeeds; the
        // losers just find the slot absent (or already re-claimed).
        // The move alone is NOT enough: between our read above and
        // the move, a concurrent winner may have already re-claimed
        // the slot, so the file we displaced could be its FRESH
        // lease. Verify the tomb holds the very lease we observed
        // stale (owner AND ts); a fresh foreign lease goes back and
        // we refuse — never delete another session's live claim.
        val tomb = leasePath(root).resolveSibling(
          s"_continuous_lease.$ownerId.expired")
        val moved =
          try { Files.move(leasePath(root), tomb,
            StandardCopyOption.ATOMIC_MOVE); true }
          catch { case _: java.io.IOException => false }
        if (moved) {
          val entombed = readLeaseAt(tomb)
          val isObserved = entombed.exists(e =>
            e.owner == observed.owner && e.ts == observed.ts)
          if (isObserved || entombed.forall(_.owner == ownerId)) {
            // genuine debris (or our own / unreadable leftover)
            Files.deleteIfExists(tomb)
          } else {
            // we displaced a concurrent winner's fresh claim: restore
            // it and refuse. If a third session claimed the briefly
            // empty slot meanwhile, the move-back fails — then the
            // slot is owned, the displaced session self-terminates at
            // its next heartbeat (owner mismatch), and we still
            // refuse: in every interleaving exactly one loop survives.
            try Files.move(tomb, leasePath(root),
              StandardCopyOption.ATOMIC_MOVE)
            catch { case _: java.io.IOException =>
              Files.deleteIfExists(tomb) }
            throw new IllegalArgumentException(
              s"continuous refresh already running for $root " +
                "(another session claimed the lease concurrently)")
          }
        }
      case None => ()
    }
    val target = leasePath(root)
    val tmp = target.resolveSibling(
      target.getFileName.toString + s".$ownerId.tmp")
    Files.writeString(tmp, leaseJson(stale))
    try Files.createLink(target, tmp)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new IllegalArgumentException(
          s"continuous refresh already running for $root " +
            "(another session claimed the lease concurrently)")
    } finally Files.deleteIfExists(tmp)
  }

  private def leaseJson(stale: Long): String =
    s"""{"owner":"$ownerId","ts":${System.currentTimeMillis()},""" +
      s""""staleMs":$stale}"""

  /** Heartbeat re-assertion, with the SAME link-based compare-and-
    * swap discipline as [[claimLease]] — not a blind
    * REPLACE_EXISTING: between heartbeat's ownership read and the
    * write, a foreign STOP+claim can land, and clobbering it would
    * invert the takeover (the NEW owner dies at ITS next heartbeat
    * while the lapsed zombie survives). So: atomically move OUR
    * current lease aside, verify it is still ours, then link the
    * refresh into the empty slot. Any interleaving where the slot
    * holds (or gains) a foreign lease throws — this loop
    * self-terminates, the foreign owner survives: the intended
    * takeover direction.
    */
  private def writeLease(root: String, stale: Long): Unit = {
    val target = leasePath(root)
    val tomb = target.resolveSibling(
      target.getFileName.toString + s".$ownerId.hb")
    try Files.move(target, tomb, StandardCopyOption.ATOMIC_MOVE)
    catch { case _: java.io.IOException =>
      // slot vanished since the ownership read: cross-session STOP
      // or a takeover mid-flight — the loss path
      throw new IllegalStateException(
        s"continuous-refresh lease for $root was released or taken " +
          "over by another session; stopping this loop")
    }
    if (!readLeaseAt(tomb).exists(_.owner == ownerId)) {
      // a foreign claim landed between the read and our move: not
      // ours to refresh — restore it and terminate this loop
      try Files.move(tomb, target, StandardCopyOption.ATOMIC_MOVE)
      catch { case _: java.io.IOException => Files.deleteIfExists(tomb) }
      throw new IllegalStateException(
        s"continuous-refresh lease for $root was taken over by " +
          "another session; stopping this loop")
    }
    val tmp = target.resolveSibling(
      target.getFileName.toString + s".$ownerId.tmp")
    try {
      Files.writeString(tmp, leaseJson(stale))
      try Files.createLink(target, tmp)
      catch { case _: java.nio.file.FileAlreadyExistsException =>
        // a concurrent START claimed the briefly empty slot — it won
        // the race fairly (it saw no lease); defer to it and die
        throw new IllegalStateException(
          s"continuous-refresh lease for $root was claimed by " +
            "another session; stopping this loop")
      }
    } finally {
      Files.deleteIfExists(tmp)
      Files.deleteIfExists(tomb)
    }
  }

  private def releaseIfOwned(root: String): Unit =
    readLease(root) match {
      case Some(l) if l.owner == ownerId =>
        Files.deleteIfExists(leasePath(root))
      case _ => ()
    }
}

private[graft] object ContinuousRegistry {
  private case object Starting

  /** Lease freshness floor: a lease older than max(this, the lease's
    * own advertised window — 3× its trigger interval) is crash debris
    * and a new START takes over. Overridable per view through
    * TBLPROPERTIES (`graft.mv.lease.staleMs`).
    */
  val DefaultStaleMs = 60000L
  private[graft] val StaleMsProp = "graft.mv.lease.staleMs"

  private case class Lease(owner: String, ts: Long, staleMs: Long)

  private def leasePath(root: String): Path =
    Paths.get(root, "_continuous_lease.json")

  private def staleMs(spark: SparkSession, root: String): Long =
    try GraftTable.load(spark, root).properties.get(StaleMsProp)
      .map(_.trim.toLong).getOrElse(DefaultStaleMs)
    catch { case scala.util.control.NonFatal(_) => DefaultStaleMs }

  /** Trigger-interval milliseconds ("5 minutes", "1 second", …);
    * unparseable intervals contribute nothing (the flat floor
    * stands — Trigger.ProcessingTime will reject them anyway).
    */
  private[graft] def intervalMillis(interval: String): Long =
    try scala.concurrent.duration.Duration(interval).toMillis
    catch { case scala.util.control.NonFatal(_) => 0L }

  /** The lease, or None when absent/unreadable — an unreadable lease
    * reads as absent (writers publish atomically, so this is a
    * vanished-mid-read race, not a torn file). Every lease carries
    * owner, ts and staleMs; one missing any of them is unreadable.
    */
  private def readLease(root: String): Option[Lease] =
    readLeaseAt(leasePath(root))

  private def readLeaseAt(p: Path): Option[Lease] =
    try {
      if (!Files.exists(p)) None
      else {
        val s = Files.readString(p)
        for {
          o <- """"owner":"([^"]+)"""".r.findFirstMatchIn(s).map(_.group(1))
          t <- """"ts":(\d+)""".r.findFirstMatchIn(s).map(_.group(1).toLong)
          st <- """"staleMs":(\d+)""".r.findFirstMatchIn(s).map(_.group(1).toLong)
        } yield Lease(o, t, st)
      }
    } catch { case scala.util.control.NonFatal(_) => None }
}
