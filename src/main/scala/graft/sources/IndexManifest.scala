package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Single-pointer commit manifest shared by every persisted index family —
  * the poor-man's transaction log that makes each lifecycle mutation
  * (delete, stats advance, compaction) ALL-or-NOTHING (reference anchor:
  * the reference's per-run artifact lifecycle cannot be observed
  * half-committed, `app.py:148-155`).
  *
  * Mechanics (the Delta-log shape, scaled down to one pointer): beside an
  * index anchor lives `<anchor>_manifest/` holding immutable version files
  * `v000…N`. Each file is a complete epoch: the index's current data
  * directory, current stats directory, and the list of live tombstone
  * fragments. Writers PREPARE everything under fresh names (a new stats
  * dir, a new tombstone fragment, a compacted data dir) — none of which
  * any reader resolves yet — then commit by landing ONE new version file
  * with an exclusive (if-absent) create at its version name
  * ([[createExclusive]] — unlike the directory swaps this replaces, a
  * one-file pointer is a primitive every store can land in one step).
  * Readers list the manifest dir on every resolution and resolve through
  * the HIGHEST complete version. A crash anywhere before the pointer lands
  * leaves readers on the previous epoch — internally consistent by
  * construction, because no epoch ever references half of a mutation: the
  * prepared files are unreferenced garbage, and re-running the mutation
  * reads the OLD epoch's state, so retries are safe (the
  * deleteFromSearchIndex double-decrement hazard is structurally gone —
  * stats decrement and tombstone land in the same pointer).
  *
  * Writer discipline is SINGLE-writer per index (the standing lifecycle
  * assumption); a lost race surfaces loudly — the version file the loser
  * tries to commit already exists — never as silent last-writer-wins.
  *
  * An index with no manifest resolves everything to its build-time
  * defaults (data at the build path, stats at `<path>_stats`, no
  * tombstones) — a never-mutated index pays nothing, and builders reset
  * the manifest so a rebuild starts clean.
  */
object IndexManifest {

  /** One committed epoch of an index's state. `data`/`stats` of None mean
    * "the build-time default location"; `tombstones` lists the live
    * fragment directories and `deltas` the live buffered-update batch
    * directories, in commit order (both empty after a compaction folds
    * them in). `baseGen` counts BASE-GENERATION changes — mutations that
    * touch or supersede standing data files (appends, compactions) rather
    * than layering over them (deletes, buffered updates): as-of reads are
    * exact only within one generation, so they compare generations and
    * fail loudly across the boundary. `ingestHwm` is the streaming-ingest
    * high-water mark: the highest micro-batch id whose rows are committed,
    * PAIRED with `ingestStream`, the lineage that produced it (the
    * checkpoint identity — Spark batch ids are monotone only WITHIN one
    * checkpoint). Within the recorded lineage, foreachBatch replays only
    * an already-processed prefix, so `batchId <= ingestHwm` is the
    * complete replay test — it rides through every later mutation
    * INCLUDING compaction (which folds the delta rows into the base), so
    * a replay arriving after the fold still skips instead of re-inserting.
    * A DIFFERENT lineage restarts batch ids from 0 and is indistinguishable
    * from new data at the id level, so the ingest paths REFUSE it loudly
    * (silently fencing it would drop never-ingested documents).
    * `retired` lists index LOCATIONS this epoch superseded (a deferred-
    * reclaim fold records the directory it replaced instead of deleting
    * it eagerly — in-flight probes planned pre-fold keep executing; a
    * later [[Tombstones.vacuum]] reclaims them honoring its retention
    * window). Each epoch lists only what IT retired; chained folds are
    * reclaimed recursively through the retired location's own manifest.
    * `layout` is the INDEX LAYOUT VERSION the writing library assumed —
    * the physical contract the pointer cannot otherwise record (postings
    * columns, signature width, the graph's sentinel convention): an epoch
    * written by a NEWER library layout refuses loudly at every read
    * ([[UnsupportedIndexLayoutException]]) instead of failing confusingly
    * mid-plan or, worse, silently misreading. Absent = 1 (every index
    * written before the field existed is layout 1 by definition).
    */
  final case class Epoch(
      version: Long,
      data: Option[String],
      stats: Option[String],
      tombstones: Vector[String],
      deltas: Vector[String] = Vector.empty,
      baseGen: Long = 0L,
      ingestHwm: Option[Long] = None,
      ingestStream: Option[String] = None,
      layout: Int = CURRENT_LAYOUT,
      retired: Vector[String] = Vector.empty)

  /** The index layout this library version reads and writes. Bump it when
    * a persisted family's physical contract changes (columns, widths,
    * sentinel conventions) so long-lived indexes fail LOUDLY under an
    * older reader instead of confusingly or silently.
    */
  def CURRENT_LAYOUT: Int = layoutForTest

  /** TEST HOOK — the value behind [[CURRENT_LAYOUT]], overridable so the
    * layout-migration path ([[Tombstones.migrateIndexLayout]]) is
    * testable before a real layout bump exists: a spec sets 2 to act as
    * "the upgraded library" (stamping and migrating real manifests),
    * then restores 1 to act as the stale reader that must refuse them.
    * Production never touches it.
    */
  @volatile private[graft] var layoutForTest: Int = 1

  /** The named refusal a layout-from-the-future read raises — catchable
    * and greppable, unlike the downstream schema soup it preempts.
    */
  final class UnsupportedIndexLayoutException(msg: String)
    extends RuntimeException(msg)

  /** TEST HOOK — crash injection at the atomicity boundary: counts down
    * on every [[commit]] and, when it reaches zero, throws AFTER every
    * prepared file is durable but BEFORE the version pointer lands,
    * simulating a writer dying at the worst possible instant. 0 fails the
    * next commit; N fails the (N+1)th of a MULTI-commit mutation (a
    * compaction's pre-swap generation bump is commit 1, its
    * tombstone-clearing epoch commit 2; an append's bump is commit 1, its
    * stats advance commit 2), letting TombstoneSpec stage the mid-mutation
    * states (bump landed, physical step or follow-up commit missing) and
    * prove they are loud or consistent, never silently wrong. Negative =
    * off.
    */
  @volatile private[graft] var failCommitCountdown: Int = -1

  def dir(anchor: String): String = anchor.stripSuffix("/") + "_manifest"

  private def fileName(version: Long): String = f"v$version%012d"

  private def fs(s: SparkSession, p: Path) =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  // ---- the landing primitive -----------------------------------------------
  // Every atomicity guarantee in the library bottoms out in ONE step, how a
  // prepared version file becomes the committed pointer: an exclusive
  // (if-absent) create of the complete body straight at the version name
  // ([[createExclusive]] — the shape of an object store's conditional put,
  // S3 If-None-Match / GCS if-generation-match, which a deployment there
  // swaps in at that one method). The residual is a writer dying BETWEEN
  // create and close leaving a TORN version file; the format makes that
  // detectable (every complete body ends in the `eot` marker), readers SKIP
  // torn files (the commit never completed — exactly the crash contract),
  // and a retry reclaims them after [[TORN_GRACE_MS]] (within the grace a
  // torn file may be a live racer mid-write, so the collision stays loud —
  // the WriterLease discipline).

  /** Create `p` holding `body` only if nothing exists there — the one
    * landing primitive, shared by [[commit]] and [[WriterLease.acquire]]'s
    * first claim. On the local FS it is NIO `CREATE_NEW` (O_EXCL), because
    * Hadoop's RawLocalFileSystem `create(overwrite = false)` is a
    * non-atomic check-then-create (two racers can both "win"); elsewhere
    * it is `create(overwrite = false)`, which HDFS arbitrates at the
    * namenode. A lost race throws Hadoop's [[org.apache.hadoop.fs
    * .FileAlreadyExistsException]] on both branches; every other
    * IOException propagates as itself.
    */
  private[sources] def createExclusive(
      f: org.apache.hadoop.fs.FileSystem, p: Path, body: Array[Byte]): Unit = {
    val isLocal = f.isInstanceOf[org.apache.hadoop.fs.LocalFileSystem] ||
      f.isInstanceOf[org.apache.hadoop.fs.RawLocalFileSystem]
    val out =
      if (isLocal)
        try java.nio.file.Files.newOutputStream(java.nio.file.Paths.get(p.toUri.getPath),
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
        catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            throw new org.apache.hadoop.fs.FileAlreadyExistsException(s"$p already exists")
        }
      else f.create(p, false)
    try out.write(body)
    finally out.close()
  }

  /** Every COMPLETE version file ends in this marker — what lets readers
    * distinguish a committed epoch from a torn landing (a writer dead
    * between create and close) without trusting file length or mtime.
    * FORMAT CUT (deliberate, r18): the marker and the exclusive-create
    * landing entered the format TOGETHER — every marker-less file a
    * deployment of this library could hold predates both, and none were
    * ever persisted across a library upgrade (indexes rebuild per
    * lifecycle), so marker-less = torn is sound here. A deployment that
    * DID carry pre-marker manifests forward would need a one-shot
    * migration (re-land each version file with the marker) before
    * upgrading — readers must not guess, because a torn create-landed
    * prefix is indistinguishable from a complete legacy body by content.
    */
  private val EOT = "eot\t1\n"

  /** Grace before a torn exclusive-create landing — a version file here,
    * or [[WriterLease]]'s lease file — becomes reclaimable, measured from
    * its mtime: long enough that a racer mid-initial-write is never
    * clobbered, short enough that a crashed landing stops blocking within
    * a minute.
    *
    * CLOCK ASSUMPTION: the age test compares the claimant's wall clock to
    * the file's store-stamped mtime, so on a SHARED store the grace must
    * absorb the worst cross-host clock skew — a claimant whose clock runs
    * more than the grace AHEAD of the store's could set aside another
    * writer's in-flight landing still inside its true grace. 60 s is
    * ample under NTP (skew typically < 1 s); a deployment without clock
    * discipline should size the grace to (write time + max skew), not
    * shrink it.
    */
  val TORN_GRACE_MS: Long = 60000L

  private def readBody(f: org.apache.hadoop.fs.FileSystem, p: Path): String = {
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  /** Parse one version file; None = torn (the landing never completed —
    * readers resolve through the previous epoch, the crash contract). A
    * file that VANISHES between the caller's listing and this read was a
    * torn landing a concurrent commit-retry just set aside — gone is gone,
    * skip it too.
    */
  private def readEpochFile(
      f: org.apache.hadoop.fs.FileSystem, d: Path, name: String): Option[Epoch] = {
    val body =
      try readBody(f, new Path(d, name))
      catch { case _: java.io.FileNotFoundException => return None }
    if (body.endsWith(EOT)) Some(parse(name.drop(1).toLong, body)) else None
  }

  /** The current epoch, or None for a never-mutated (or freshly reset)
    * index. One listStatus + one small-file read per call — control-plane
    * cost, and always the true committed state, which the ingest fence,
    * epoch templating and the as-of generation guard rely on.
    */
  def current(s: SparkSession, anchor: String): Option[Epoch] = {
    val d = new Path(dir(anchor))
    val f = fs(s, d)
    if (!f.exists(d)) None
    else {
      // zero-padded names: lexicographic order = numeric order. Torn
      // landings (no eot marker — a writer dead mid-write) are SKIPPED:
      // their commit never completed, so the previous complete epoch is
      // the committed state. The common case still reads one file.
      val versions = f.listStatus(d).toSeq
        .map(_.getPath.getName)
        .filter(_.matches("v\\d{12}"))
        .sorted(Ordering[String].reverse)
      versions.iterator.flatMap(n => readEpochFile(f, d, n)).nextOption()
    }
  }

  /** A SPECIFIC committed epoch — the as-of half of the manifest: because
    * every version file is immutable and complete, reading an index "as
    * of epoch v" is just resolving through v's pointer instead of the
    * highest one. Returns None for version 0 (the build state, before any
    * mutation); throws loudly if the version was never committed.
    * Soundness horizon (documented at the probe entry points): an as-of
    * read is exact across DELETE and BUFFERED-UPDATE epochs — mutations
    * that never touch standing files — and ends at any append/compaction
    * (which mutate or supersede the base generation) or at a [[Tombstones
    * .vacuum]] (which reclaims superseded epochs' files).
    */
  def at(s: SparkSession, anchor: String, version: Long): Option[Epoch] = {
    if (version == 0L) None
    else {
      val d = new Path(dir(anchor))
      val f = fs(s, d)
      val p = new Path(d, fileName(version))
      require(f.exists(p),
        s"IndexManifest.at: epoch $version of $anchor was never committed " +
          "(or its version file was removed)")
      val e = readEpochFile(f, d, fileName(version))
      require(e.isDefined,
        s"IndexManifest.at: epoch $version of $anchor is a TORN landing — " +
          "the writer died mid-commit and the epoch never took effect")
      e
    }
  }

  /** Every committed epoch in version order — the index's mutation log
    * (the DESCRIBE-HISTORY read): version files are immutable and
    * complete, so the history is just parsing each one. Control-plane
    * cost: one listStatus + one small read per epoch.
    */
  def history(s: SparkSession, anchor: String): Seq[Epoch] = {
    val d = new Path(dir(anchor))
    val f = fs(s, d)
    if (!f.exists(d)) Seq.empty
    else
      f.listStatus(d).toSeq
        .map(_.getPath.getName)
        .filter(_.matches("v\\d{12}"))
        .sorted
        .flatMap(name => readEpochFile(f, d, name)) // torn never committed
  }

  /** Template for the next epoch: the current state with the version
    * advanced (v1 from nothing). Writers copy-modify it and [[commit]].
    * `retired` never carries forward — each epoch lists only the
    * locations ITS mutation superseded. `layout` is STAMPED with the
    * writing library's CURRENT_LAYOUT, never carried: the new epoch's
    * own artifacts (stats dirs, delta batches) are written in THIS
    * library's physical format, and carrying an older number forward
    * would let an old reader accept — and misread — them (review-found;
    * the refusal gate is only as good as the stamp). A single scalar
    * cannot describe a MIXED state (a metadata-only mutation by an
    * upgraded library leaves carried data pointers physically old-format
    * under a new-format stamp) — the stamp deliberately errs LOUD: an
    * old reader over-refuses data it could still have read (recoverable
    * by upgrading the reader), where carrying would under-refuse and
    * silently misread the epoch's own new artifacts. A layout bump that
    * must keep old readers serving needs a migration rewrite, not a
    * pointer flag.
    */
  def next(s: SparkSession, anchor: String): Epoch =
    current(s, anchor)
      .map(e => e.copy(version = e.version + 1, retired = Vector.empty,
        layout = CURRENT_LAYOUT))
      .getOrElse(Epoch(1L, None, None, Vector.empty, Vector.empty, 0L))

  /** Land `e` as the new current epoch — the single atom of every
    * lifecycle mutation. Fails loudly (never overwrites) if `e.version`
    * was already committed, surfacing a violated single-writer assumption.
    */
  def commit(s: SparkSession, anchor: String, e: Epoch): Unit = {
    if (e.layout > CURRENT_LAYOUT)
      throw new UnsupportedIndexLayoutException(
        s"IndexManifest.commit: refusing to write epoch ${e.version} of $anchor " +
          s"under layout ${e.layout} — this library writes layout <= $CURRENT_LAYOUT")
    val d = new Path(dir(anchor))
    val f = fs(s, d)
    if (!f.exists(d)) f.mkdirs(d)
    val dest = new Path(d, fileName(e.version))
    requireDestFree(s, f, anchor, dest, e.version)
    if (failCommitCountdown >= 0) {
      failCommitCountdown -= 1
      if (failCommitCountdown < 0)
        throw new RuntimeException(
          s"IndexManifest: injected crash before committing epoch ${e.version} of $anchor")
    }
    // only the exists-collision maps to the single-writer page; any other
    // IOException (transient namenode/network, quota, permission)
    // propagates as itself — misreporting it as a concurrent writer would
    // page an operator at a phantom discipline violation when the commit
    // merely needs a retry (review-found)
    try createExclusive(f, dest, serialize(e).getBytes("UTF-8"))
    catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
        collision(anchor, e.version)
    }
  }

  /** The shared loud collision (the single-writer discipline's surface). */
  private def collision(anchor: String, version: Long): Nothing =
    throw new IllegalArgumentException(
      s"IndexManifest.commit: epoch $version of $anchor already exists — " +
        "concurrent writer detected (the lifecycle is single-writer per index)")

  /** Pre-landing destination check: a COMPLETE file at the version name is
    * a genuine collision (loud); a TORN one within the grace may be a
    * racer mid-initial-write (still loud); a torn one past the grace is a
    * crashed predecessor's landing — set aside so the retry can land.
    * The set-aside is a RENAME to a dot-prefixed `.torn_` name, never a
    * delete: if the classification were ever wrong (a hand-authored or
    * foreign-format file at a version name), the evidence survives for
    * an operator instead of being silently destroyed (review-found).
    */
  private def requireDestFree(
      s: SparkSession, f: org.apache.hadoop.fs.FileSystem, anchor: String,
      dest: Path, version: Long): Unit =
    if (f.exists(dest)) {
      try {
        if (readBody(f, dest).endsWith(EOT)) collision(anchor, version)
        val age = System.currentTimeMillis() - f.getFileStatus(dest).getModificationTime
        if (age < TORN_GRACE_MS)
          throw new IllegalArgumentException(
            s"IndexManifest.commit: epoch $version of $anchor has a fresh TORN " +
              s"landing (a writer may be mid-commit) — retry after the " +
              s"${TORN_GRACE_MS}ms grace")
        val aside = new Path(dest.getParent,
          s".torn_${dest.getName}_${java.util.UUID.randomUUID().toString.take(8)}")
        val fc = org.apache.hadoop.fs.FileContext.getFileContext(
          dest.toUri, s.sparkContext.hadoopConfiguration)
        fc.rename(dest, aside)
      } catch {
        // a concurrent retry set the torn file aside between our exists
        // check and the read/rename — dest is free, proceed to land (the
        // landing itself still collides loudly if that retry lands first);
        // review-found: the raw FileNotFoundException otherwise escaped
        // commit as an unclassified failure
        case _: java.io.FileNotFoundException => ()
      }
    }

  /** The as-of guard: a travel target whose base generation differs from
    * the live one would silently mix standing data from one generation
    * with stats/masks from another — refuse loudly instead.
    */
  def requireSameGeneration(
      s: SparkSession, anchor: String, ep: Option[Epoch], version: Long): Unit = {
    val curGen = current(s, anchor).map(_.baseGen).getOrElse(0L)
    val epGen = ep.map(_.baseGen).getOrElse(0L)
    require(epGen == curGen,
      s"as-of epoch $version of $anchor is from base generation $epGen but the " +
        s"index is at generation $curGen — an append or compaction rewrote the " +
        "standing data, so that epoch can no longer be reproduced")
  }

  /** Resolve the index's current data directory (build default when no
    * epoch redirects it).
    */
  def dataPath(s: SparkSession, anchor: String, default: String): String =
    current(s, anchor).flatMap(_.data).getOrElse(default)

  /** Drop the manifest entirely — builders call this so a rebuild over an
    * anchor that lived a previous life starts from the defaults instead of
    * resolving through a stale epoch.
    */
  def reset(s: SparkSession, anchor: String): Unit = {
    val d = new Path(dir(anchor))
    fs(s, d).delete(d, true)
  }

  // one `key<TAB>value` line per field; paths are our own (no tabs/newlines)
  private def serialize(e: Epoch): String = {
    val b = new StringBuilder
    b.append(s"version\t${e.version}\n")
    b.append(s"layout\t${e.layout}\n")
    e.data.foreach(p => b.append(s"data\t$p\n"))
    e.stats.foreach(p => b.append(s"stats\t$p\n"))
    e.tombstones.foreach(p => b.append(s"tombstone\t$p\n"))
    e.deltas.foreach(p => b.append(s"delta\t$p\n"))
    b.append(s"basegen\t${e.baseGen}\n")
    e.ingestHwm.foreach(h => b.append(s"hwm\t$h\n"))
    e.ingestStream.foreach(t => b.append(s"hwmstream\t$t\n"))
    e.retired.foreach(p => b.append(s"retired\t$p\n"))
    // the completeness marker MUST be last: readers treat any version file
    // not ending in it as a torn landing that never committed
    b.append(EOT)
    b.toString
  }

  private def parse(version: Long, body: String): Epoch = {
    val kvs = body.linesIterator.filter(_.nonEmpty).toSeq.map { line =>
      val i = line.indexOf('\t')
      require(i > 0, s"IndexManifest: malformed line '$line'")
      (line.substring(0, i), line.substring(i + 1))
    }
    // the layout gate sits in parse so EVERY read entry point (current,
    // at, history) refuses a layout-from-the-future epoch loudly — a
    // pre-layout manifest (absent field) is layout 1 by definition
    val layout = kvs.collectFirst { case ("layout", v) => v.toInt }
      .getOrElse(1)
    if (layout > CURRENT_LAYOUT)
      throw new UnsupportedIndexLayoutException(
        s"IndexManifest: epoch $version was written under index layout " +
          s"$layout but this library reads layout <= $CURRENT_LAYOUT — " +
          "upgrade the reader (or rebuild the index under this version); " +
          "serving it anyway would misread the physical contract the " +
          "newer writer assumed")
    Epoch(
      version,
      kvs.collectFirst { case ("data", v) => v },
      kvs.collectFirst { case ("stats", v) => v },
      kvs.collect { case ("tombstone", v) => v }.toVector,
      kvs.collect { case ("delta", v) => v }.toVector,
      kvs.collectFirst { case ("basegen", v) => v.toLong }.getOrElse(0L),
      kvs.collectFirst { case ("hwm", v) => v.toLong },
      kvs.collectFirst { case ("hwmstream", v) => v },
      layout,
      kvs.collect { case ("retired", v) => v }.toVector)
  }
}
