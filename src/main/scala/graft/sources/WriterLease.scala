package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Advisory writer lease for the single-writer-per-index lifecycle — the
  * automation piece the manifest's loud collision check deliberately does
  * not provide (reference anchor: the reference serializes its lifecycle
  * behind one Streamlit session, `app.py:176-246`; a scheduled fleet has
  * no such implicit mutex).
  *
  * The manifest itself stays the CORRECTNESS guard: a true concurrent
  * commit still fails loudly on the version-file collision, lease or no
  * lease. What the lease adds is operational: without it, a crashed
  * writer's successor learns about the corpse only by colliding (a page);
  * with it, the successor WAITS for the corpse's lease to expire and then
  * proceeds — the page becomes a bounded delay. Expiry makes the lease
  * crash-safe: a holder that dies stops renewing, and any later claimant
  * may break the stale lease.
  *
  * Mechanics: one lease file beside the manifest
  * (`<anchor>_manifest/_lease`) holding (holder id, expiry epoch-millis).
  * Acquisition creates it with [[IndexManifest.createExclusive]], the same
  * exclusive-create primitive that lands a manifest version (local FS:
  * O_EXCL; HDFS: namenode-arbitrated), so exactly one racing claimant
  * wins the first claim. A claimant that
  * finds a live lease either returns false (fail-fast policy) or polls
  * until the deadline ([[acquireOrWait]]); one that finds an EXPIRED
  * lease deletes it and retries. Release deletes the file only if the
  * holder still owns it — releasing someone else's lease (the classic
  * expired-then-reacquired race) is refused.
  *
  * The lease file's name starts with '_' so [[IndexManifest]]'s version
  * listing (`v\d{12}`) never sees it.
  */
object WriterLease {

  final case class Lease(holder: String, expiresAtMs: Long)

  def leasePath(anchor: String): String =
    IndexManifest.dir(anchor) + "/_lease"

  private def fs(s: SparkSession, p: Path) =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  /** The current lease, if a lease file exists (expired or not). A
    * zero-byte or torn file — a writer that died between creating and
    * writing the lease — parses as a lease under the reserved holder
    * `<torn>` that EXPIRES [[IndexManifest.TORN_GRACE_MS]] after the
    * file's mtime:
    * hard-failing would make the corpse's lease permanently unbreakable
    * (the page the lease exists to bound), while treating it as
    * instantly expired would let a claimant racing the non-atomic
    * INITIAL write break a live claim (review-found; renewals are
    * tmp+rename-atomic, so only first acquisition has the window).
    */
  def current(s: SparkSession, anchor: String): Option[Lease] =
    readLease(s, new Path(leasePath(anchor)))

  private def readLease(s: SparkSession, p: Path): Option[Lease] = {
    val f = fs(s, p)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      val body =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val i = body.indexOf('\t')
      val parsed =
        if (i > 0) scala.util.Try(
          Lease(body.substring(0, i), body.substring(i + 1).trim.toLong)).toOption
        else None
      Some(parsed.getOrElse(
        Lease("<torn>",
          f.getFileStatus(p).getModificationTime + IndexManifest.TORN_GRACE_MS)))
    }
  }

  /** Break an EXPIRED lease atomically: rename the lease file to a unique
    * tomb (rename is the one-winner primitive — the source disappears for
    * every other racer), then VERIFY the tombed content is the expired
    * lease the claimant observed. The previous delete-then-create break
    * had a two-holder window (review-found): claimant B that read the
    * stale lease could delete claimant A's FRESHLY CREATED lease (A broke
    * the corpse and claimed between B's read and B's delete) and create
    * its own — both then believe they own the index. With rename+verify,
    * B that tombs a lease it did not observe knows it raced someone and
    * RESTORES the tombed lease (rename back; if a third claimant landed
    * meanwhile, their lease stands and the tomb is dropped — never two
    * live lease files). Returns true only if the observed expired lease
    * was the one broken; callers treat false as a lost race and re-read.
    * The manifest's version-collision check remains the CORRECTNESS guard
    * beneath all of this — the lease is advisory bounded-wait, and on a
    * store without atomic rename the residual is documented at
    * [[IndexManifest.commit]]'s landing primitive.
    */
  private[graft] def breakExpired(
      s: SparkSession, anchor: String, observed: Lease): Boolean = {
    val p = new Path(leasePath(anchor))
    val f = fs(s, p)
    // re-read immediately before the rename: a claimant acting on a
    // MINUTES-old observation must not tomb a lease that already changed
    // hands — this shrinks the tomb-a-live-lease window (during which a
    // third claimant's create would strand the tombed holder, see below)
    // from "since the caller's read" to the read-vs-rename microseconds
    if (!readLease(s, p).contains(observed)) return false
    val tomb = new Path(p.getParent,
      s".tomb_lease_${java.util.UUID.randomUUID().toString.take(8)}")
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      p.toUri, s.sparkContext.hadoopConfiguration)
    try fc.rename(p, tomb)
    catch {
      // source gone: another claimant tombed it first — lost the race
      case _: java.io.IOException => return false
    }
    val broken = readLease(s, tomb)
    if (broken.contains(observed)) {
      try f.delete(tomb, false) catch { case _: java.io.IOException => () }
      true
    } else {
      // tombed a lease we never observed — someone broke-and-reclaimed
      // between our read and our rename; put it back. If a THIRD claimant
      // created meanwhile, their lease stands and the tomb drops (exactly
      // one live lease file on every path) — the tombed holder is
      // stranded, the residual this primitive cannot close on a store
      // without compare-and-swap: its next renewal re-creates its lease
      // and the manifest's version-collision check remains the
      // correctness guard beneath both. The pre-rename re-read above
      // bounds the window to microseconds.
      try fc.rename(tomb, p)
      catch {
        case _: java.io.IOException =>
          try f.delete(tomb, false) catch { case _: java.io.IOException => () }
      }
      false
    }
  }

  /** Try to take the write lease for `ttlMs`. Returns true if `holder`
    * now owns it (including re-acquiring/renewing its own live lease);
    * false if another holder's UNEXPIRED lease stands. An expired lease
    * is broken (deleted) and the claim retried.
    */
  def acquire(
      s: SparkSession, anchor: String, holder: String, ttlMs: Long,
      nowMs: () => Long = () => System.currentTimeMillis()): Boolean = {
    require(holder.nonEmpty && !holder.contains("\t") && !holder.contains("\n"),
      "WriterLease: holder id must be non-empty and tab/newline-free")
    val p = new Path(leasePath(anchor))
    val f = fs(s, p)
    current(s, anchor) match {
      case Some(l) if l.holder == holder =>
        // renewal: the owner extends its own lease ATOMICALLY (tmp +
        // single-file rename-with-overwrite) — a truncate-then-write
        // renewal would expose a zero-byte window a polling claimant
        // could mistake for a torn corpse and break (review-found)
        val tmp = new Path(p.getParent,
          s".tmp_lease_${java.util.UUID.randomUUID().toString.take(8)}")
        val out = f.create(tmp, true)
        try out.write(s"$holder\t${nowMs() + ttlMs}\n".getBytes("UTF-8"))
        finally out.close()
        val fc = org.apache.hadoop.fs.FileContext.getFileContext(
          p.toUri, s.sparkContext.hadoopConfiguration)
        fc.rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
        true
      case Some(l) if l.expiresAtMs >= nowMs() =>
        false // live foreign lease — wait or fail, caller's policy
      case other =>
        // expired foreign lease (break it atomically — rename-to-tomb
        // with content verification, never delete+create) or no lease at
        // all; a lost break race reports false and the caller re-reads
        if (other.isDefined && !breakExpired(s, anchor, other.get)) return false
        val parent = p.getParent
        if (!f.exists(parent)) f.mkdirs(parent)
        // initial claim through the manifest's own landing primitive;
        // the lease stays advisory — the manifest's version collision
        // remains the correctness guard
        try {
          IndexManifest.createExclusive(
            f, p, s"$holder\t${nowMs() + ttlMs}\n".getBytes("UTF-8"))
          true
        } catch {
          case _: java.io.IOException => false // lost the creation race
        }
    }
  }

  /** [[acquire]] with a bounded wait: polls every `pollMs` until the
    * claim lands or `waitMs` elapses. The bounded-delay form of the
    * crashed-writer page: a successor parks here for at most
    * (predecessor TTL + poll slack) instead of failing on the collision.
    */
  def acquireOrWait(
      s: SparkSession, anchor: String, holder: String, ttlMs: Long,
      waitMs: Long, pollMs: Long = 200L,
      nowMs: () => Long = () => System.currentTimeMillis()): Boolean = {
    val deadline = nowMs() + waitMs
    var got = acquire(s, anchor, holder, ttlMs, nowMs)
    while (!got && nowMs() <= deadline) {
      Thread.sleep(math.max(1L, pollMs))
      got = acquire(s, anchor, holder, ttlMs, nowMs)
    }
    got
  }

  /** Release `holder`'s lease. A no-op if no lease stands; REFUSES loudly
    * if someone else's lease stands (the expired-then-reacquired race:
    * deleting it would hand the index to a third claimant while the
    * second still believes it is the writer).
    */
  def release(s: SparkSession, anchor: String, holder: String): Unit =
    current(s, anchor).foreach { l =>
      require(l.holder == holder,
        s"WriterLease.release: $anchor is leased by '${l.holder}', not " +
          s"'$holder' — refusing to break a lease this holder does not own")
      fs(s, new Path(leasePath(anchor))).delete(new Path(leasePath(anchor)), false)
      ()
    }

  /** The lease the streaming ingest runners take around each micro-batch
    * by default (holder = the stream's checkpoint, its lineage identity):
    * a crashed co-writer's successor waits out the corpse's TTL instead
    * of paging on the manifest collision, and two live mutators
    * SERIALIZE — the second templates its epoch only after the first
    * released, so neither ever sees the collision page (pinned in
    * StreamingSpec). `waitMs` < 0 opts the lease out entirely (the
    * caller owns exclusion). For the location-anchored families the
    * anchor moves at each fold; the per-batch re-resolution keeps
    * claimants colliding on the CURRENT location's lease, and the
    * manifest's version check remains the correctness guard beneath.
    * `ttlMs` must be sized to the micro-batch INCLUDING an inline fold
    * (review-found: a hardcoded TTL silently loses the lease mid-fold
    * exactly when batches get slow) — the runners expose it.
    */
  def withIngestLease[T](
      s: SparkSession, anchor: String, holder: String,
      waitMs: Long, ttlMs: Long = 600000L)(body: => T): T =
    if (waitMs < 0) body
    else withLease(s, anchor, holder, ttlMs = ttlMs, waitMs = waitMs)(body)

  /** [[withIngestLease]] for a LOCATION-ANCHORED family, whose anchor
    * MOVES at every fold: resolve → acquire → RE-RESOLVE under the lease,
    * and if a fold moved the location between resolution and acquisition,
    * release and retry at the new one. Without the verify step, two
    * claimants can end up holding "the" family's lease at DIFFERENT
    * generations of its anchor — one resolved pre-fold, one post-fold —
    * and mutual exclusion silently voids: the group-drain + concurrent-
    * maintenance pin reproduced the full consequence chain (a runner
    * blocked on the pre-fold location's lease acquires it after the
    * maintainer folds away; the maintainer's next pass claims the new
    * location UNCONTENDED and its fold/vacuum run under the runner's
    * still-executing plan — FILE_NOT_EXIST on the read path, and the
    * runner's commit would land at a retired anchor) before this
    * primitive existed. Once the VERIFIED lease is held the location
    * cannot move underneath the body, because a fold itself only lands
    * under this same lease. The body receives the verified anchor.
    * `waitMs` < 0 opts out like [[withIngestLease]].
    */
  def withResolvedIngestLease[T](
      s: SparkSession, resolve: () => String, holder: String,
      waitMs: Long, ttlMs: Long = 600000L)(body: String => T): T = {
    if (waitMs < 0) return body(resolve())
    // TWO bounds, not one: the attempt cap alone would let a pathological
    // fold storm park a claimant for attempts × waitMs (hours at the
    // 600 s default) before paging — `waitMs` is the caller's TOTAL
    // patience, so the wall-clock deadline derives from it and each
    // attempt claims only the remaining budget (review-found).
    val deadline = System.currentTimeMillis() + waitMs
    var attempts = 0
    while (attempts < 64) {
      val a = resolve()
      val remaining = math.max(0L, deadline - System.currentTimeMillis())
      val out = withIngestLease(s, a, holder, remaining, ttlMs) {
        if (resolve() == a) Some(body(a)) else None
      }
      out match {
        case Some(t) => return t
        case None => // a fold moved the anchor mid-claim — retry at the new location
          attempts += 1
          // >=, not >: an exhausted budget (remaining == 0) must page after
          // exactly one anchor-moved retry, not spin acquire/release cycles
          // until the clock ticks past the deadline [r21, ADVICE]
          if (System.currentTimeMillis() >= deadline)
            throw new IllegalStateException(
              s"WriterLease: anchor for '$holder' still moving when the " +
                s"${waitMs}ms claim budget expired after $attempts attempts " +
                "— a fold storm, or a resolver that does not settle")
      }
    }
    throw new IllegalStateException(
      s"WriterLease: anchor for '$holder' kept moving across 64 claim " +
        "attempts — a fold storm, or a resolver that does not settle")
  }

  /** Run `body` under the lease, releasing on every exit path. Throws
    * (rather than waiting) if the lease cannot be claimed within
    * `waitMs` — the fail-deadline policy for scheduled jobs, where a
    * writer that cannot start by its slot should page rather than queue.
    * The exit release is RELEASE-IF-STILL-HELD: a body that outlives its
    * TTL (size `ttlMs` to the body, or renew inside it via [[acquire]])
    * may find its lease broken and re-taken — the successor's lease must
    * not be torn down, and a completed body must not be reported failed
    * over it (nor may a lost lease shadow the body's own exception).
    */
  def withLease[T](
      s: SparkSession, anchor: String, holder: String,
      ttlMs: Long = 600000L, waitMs: Long = 0L)(body: => T): T = {
    require(acquireOrWait(s, anchor, holder, ttlMs, waitMs),
      s"WriterLease: could not claim $anchor within ${waitMs}ms " +
        s"(held by ${current(s, anchor).map(_.holder).getOrElse("?")})")
    try body
    finally {
      // release-if-still-held, with the residual TOCTOU tolerated: a
      // takeover can land between this check and release()'s own re-read,
      // and release() then refuses (correctly protecting the successor) —
      // that refusal must not surface from a finally, where it would
      // report the completed body failed or shadow the body's own
      // exception (review-found)
      if (current(s, anchor).exists(_.holder == holder))
        try release(s, anchor, holder)
        catch { case _: IllegalArgumentException => () }
    }
  }
}
