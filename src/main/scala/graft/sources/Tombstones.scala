package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deletion (takedown) support for the persisted index families — the
  * retraction half of the build / append / compact lifecycle (reference
  * anchor: even the 249-line reference deletes its artifacts per lifecycle,
  * `app.py:148-155,215`; at corpus scale the driver is GDPR/takedown
  * requests, which cannot wait for a full index rebuild).
  *
  * Design (the classic LSM/tombstone shape, cf. FreshDiskANN for the ANN
  * variant): deletions are recorded as id-set FRAGMENTS under a sidecar
  * directory beside the index (`<path>_tombstones/f<epoch>`), and the set
  * of LIVE fragments is named by the index's [[IndexManifest]] — each
  * delete writes one new fragment (touching no standing file) and lands it
  * with a single atomic manifest commit, so a half-written fragment is
  * never visible (the fragment's part files only count once the pointer
  * names them) and a crashed delete leaves the index exactly as it was.
  * Probes anti-join the live fragments' union against the index scan with
  * the TOMBSTONE SIDE BROADCAST: the standing index is never shuffled, and
  * the per-probe overhead is one broadcast of the takedown set (small
  * relative to any corpus — a deployment that accumulates millions of
  * tombstones is overdue for the compaction that folds them in).
  * Compaction physically drops tombstoned rows during its rewrite and
  * commits an epoch with no live fragments — after it, the index equals a
  * fresh build over the surviving corpus.
  *
  * Correctness under deletion of derived statistics:
  *   - probe-time stats (winnow df cap, postings df, phash/band candidate
  *     sets) are derived AFTER the anti-join, so they are exact for the
  *     surviving corpus by construction — deletion can both shrink df and
  *     RE-ADMIT a previously df-capped key (pinned in WinnowSpec);
  *   - stored 1-row corpus stats (postings n_docs/tt) are decremented at
  *     delete time by the deleted rows' own contribution, and the new
  *     stats land IN THE SAME manifest commit as the tombstone
  *     ([[addWithStats]]) — a probe can never see one without the other,
  *     and a crashed-then-retried delete recomputes from the old epoch, so
  *     double-decrement is structurally impossible;
  *   - any stored upper bounds derived from maxima stay upper-bound-SAFE
  *     (stale-larger) under deletion and are recomputed exactly at the next
  *     compaction.
  *
  * Fragments are immutable once committed (concurrent mutations are
  * excluded by the manifest's single-writer check, surfacing loudly rather
  * than interleaving), and deleting an id twice is idempotent — the
  * reader takes the distinct union. Re-using a deleted id in a later
  * append is NOT supported until a compaction has folded the tombstone in
  * — the append paths fail loudly on the collision rather than silently
  * resurrecting or re-suppressing rows.
  */
object Tombstones {

  /** TEST HOOK — crash injection around [[compactBucketedIndex]]'s
    * single-statement catalog swap: `failBeforeTableSwap` throws after
    * the compacted rewrite is fully prepared but BEFORE the `ALTER TABLE
    * SET LOCATION` lands (the old location must keep serving);
    * `failAfterTableSwap` throws immediately AFTER it (the new location
    * must serve, with only reclaimable garbage left behind). TombstoneSpec
    * stages both to prove no crash point leaves the table unresolvable —
    * the property the old two-statement DROP+RENAME swap could not give.
    */
  @volatile private[graft] var failBeforeTableSwap: Boolean = false
  @volatile private[graft] var failAfterTableSwap: Boolean = false

  /** Sidecar directory holding an index's tombstone fragments. Path-based
    * indexes (IVF, k-NN graph, flat codes) and the search index anchor on
    * their immutable build path; the other catalog-table indexes anchor on
    * the table's CURRENT location ([[tableLocation]]) — coherent across
    * compactions because their compaction moves the location and retires
    * the old anchor whole ([[vacuum]] reclaims its sidecar together with
    * the files it masks).
    */
  def sidecar(indexPath: String): String =
    indexPath.stripSuffix("/") + "_tombstones"

  /** A catalog-table index's current data location — the sidecar anchor
    * for the location-anchored bucketed families (winnow, band, phash,
    * prefix).
    */
  def tableLocation(s: SparkSession, table: String): String =
    s.sessionState.catalog
      .getTableMetadata(s.sessionState.sqlParser.parseTableIdentifier(table))
      .location.toString

  /** The distinct tombstoned ids of a catalog-table index, if any. */
  def idSetForTable(s: SparkSession, table: String): Option[DataFrame] =
    idSet(s, tableLocation(s, table))

  /** The shared visible-view read of a base frame under ONE resolved
    * epoch: tombstones mask the base, then rows whose ids live in the
    * open window are SUPERSEDED by the window's latest rows (anti-join on
    * the broadcast delta-id set) — key-override, not plain union, because
    * two states make the union double-serve: insert-only append ids have
    * no masking fragment, and the bucketed fold's swap-then-clear pair
    * has a crash point where the new base already contains the window's
    * rows while the window is still open. The override is exact in every
    * state: pre-fold it equals mask+union (window ids' base rows are
    * masked or absent), mid-crash it collapses the duplication
    * (crash-injection pinned in TombstoneSpec). With no window it is the
    * bare masked scan — zero plan overhead.
    */
  def maskedOverrideFrame(
      s: SparkSession, ep: Option[IndexManifest.Epoch], base: DataFrame,
      idCol: String): DataFrame = {
    val masked = filterOf(base, ep, idCol)
    deltaLatestOf(s, ep, idCol) match {
      case Some(d) =>
        masked.join(broadcast(d.select(idCol).distinct()), Seq(idCol), "left_anti")
          .unionByName(d.select(masked.columns.map(col).toSeq: _*))
      case None => masked
    }
  }

  /** The probe-visible view of a catalog-table index AS OF committed
    * epoch `version` — the bucketed families' time-travel read, shared by
    * the winnow/band/phash/prefix `*FrameAsOf` wrappers: resolve the
    * location anchor's epoch `version` (immutable, complete), guard the
    * base generation (exact across delete/update/ingest/append epochs —
    * none touch standing files), and serve base∪delta under THAT epoch's
    * masks. The horizon for these LOCATION-ANCHORED families ends at
    * every fold twice over: the fold both bumps what a generation guard
    * would compare and MOVES the anchor (the old anchor dies with its
    * location), so a post-fold travel request fails loudly on the fresh
    * anchor's missing epoch — never silently serves the folded table as
    * an older state.
    */
  def tableFrameAsOf(
      s: SparkSession, table: String, idCol: String, version: Long): DataFrame = {
    val anchor = tableLocation(s, table)
    val ep = IndexManifest.at(s, anchor, version)
    IndexManifest.requireSameGeneration(s, anchor, ep, version)
    maskedOverrideFrame(s, ep, s.table(table), idCol)
  }

  /** Record `ids` as deleted: one immutable fragment + one manifest
    * commit. All-or-nothing — a crash before the commit leaves the new
    * fragment unreferenced and the index unchanged.
    */
  def add(s: SparkSession, indexPath: String, ids: Seq[Long]): Unit = {
    require(ids.nonEmpty, "Tombstones.add: empty id set")
    val e = IndexManifest.next(s, indexPath)
    val frag = writeFragment(s, indexPath, e.version, ids)
    IndexManifest.commit(s, indexPath, e.copy(tombstones = e.tombstones :+ frag))
  }

  /** Record `ids` as deleted AND swap in replacement stored stats, in ONE
    * manifest commit — the atom the search index's takedown needs: its
    * 1-row corpus stats must decrement exactly when the tombstone lands,
    * never before or after. `newStats` is written to a fresh epoch-named
    * directory; the previous stats dir is untouched (it stays the resolved
    * state if the commit never happens).
    */
  def addWithStats(
      s: SparkSession, indexPath: String, ids: Seq[Long], newStats: DataFrame): Unit = {
    require(ids.nonEmpty, "Tombstones.addWithStats: empty id set")
    val e = IndexManifest.next(s, indexPath)
    val statsDir = writeEpochStats(indexPath, e.version, newStats)
    val frag = writeFragment(s, indexPath, e.version, ids)
    IndexManifest.commit(s, indexPath,
      e.copy(stats = Some(statsDir), tombstones = e.tombstones :+ frag))
  }

  /** Record a base-generation change with no other state change — the
    * marker an append that commits no stats (the IVF ingest path) lands so
    * as-of reads can detect that standing data files were mutated and fail
    * loudly instead of silently mixing generations.
    */
  def bumpBaseGeneration(s: SparkSession, indexPath: String): Unit = {
    val e = IndexManifest.next(s, indexPath)
    IndexManifest.commit(s, indexPath, e.copy(baseGen = e.baseGen + 1))
  }

  /** Directory holding an index's buffered-update batches (the
    * LSM-memtable half of the batched update path: tombstones mask the
    * updated ids' BASE rows, the live batches carry their replacement
    * rows, and a once-per-window fold rewrites both away).
    */
  def deltaDir(indexPath: String): String =
    indexPath.stripSuffix("/") + "_delta"

  /** The committed streaming-ingest fence, if any: (stream lineage,
    * high-water batch id). The REPLAY test for an arriving (streamId,
    * batchId): same lineage and batchId at or below the mark → skip;
    * same lineage above the mark → ingest; a DIFFERENT lineage restarts
    * ids from 0, so fencing it would silently drop never-ingested data —
    * the ingest paths refuse it loudly instead (the caller either reuses
    * the original checkpoint or resets the fence deliberately after
    * verifying the input is a replay).
    */
  def ingestFence(s: SparkSession, indexPath: String): Option[(String, Long)] = {
    val cur = IndexManifest.current(s, indexPath)
    for (h <- cur.flatMap(_.ingestHwm))
      yield (cur.flatMap(_.ingestStream).getOrElse("default"), h)
  }

  /** The MIN COMMON ingest fence across a group of sibling indexes — the
    * serving snapshot a multi-index reader
    * ([[graft.operators.SearchQueries.hybridTopkFromIndexesConsistent]])
    * resolves when the group is mid-ingest: the ingest group
    * ([[graft.streaming.DocumentsStream.runCorpusIngest]]) commits
    * siblings in a fixed order, so between sibling commits one index is
    * a batch ahead of another; the highest batch id ALL of them have
    * committed (same lineage) is the newest mutually consistent state.
    * Refuses LOUDLY when any index has no fence or the lineages differ
    * (batch ids are monotone only within one checkpoint, so a min across
    * lineages would be meaningless — the caller either probes each index
    * live and accepts the divergence window, or re-points the group at
    * one checkpoint).
    */
  def commonIngestFence(
      s: SparkSession, anchors: Seq[String]): (String, Long) = {
    require(anchors.nonEmpty, "commonIngestFence: empty anchor group")
    val fences = anchors.map { a =>
      a -> ingestFence(s, a).getOrElse(throw new IllegalArgumentException(
        s"commonIngestFence: $a has no committed ingest fence — it was " +
          "never stream-ingested, so no common snapshot across the group " +
          "exists; probe it live or ingest it into the group first"))
    }
    val lineages = fences.map(_._2._1).distinct
    require(lineages.size == 1,
      s"commonIngestFence: the group spans ingest lineages " +
        s"${lineages.mkString("', '", "', '", "")} — batch ids are monotone " +
        "only within one checkpoint, so no common high-water mark is defined " +
        "across them; feed the group from one runCorpusIngest checkpoint")
    (lineages.head, fences.map(_._2._2).min)
  }

  /** The committed epoch VERSION of `anchor` at ingest high-water mark
    * `hwm` — the highest version whose fence is at or below the mark (the
    * fence is carried by every later same-window mutation, so this is the
    * newest committed state not past the mark). The as-of read of that
    * version serves the index exactly as it stood at the mark (exact
    * across delete/update/ingest epochs; a FOLD between the resolved
    * version and now moves the base generation and the as-of guard
    * refuses loudly — resolve the snapshot before folding past it, or
    * accept live reads). Throws when no committed epoch sits at or below
    * the mark (the index joined the group's lineage after `hwm`).
    */
  def versionAtIngestHwm(s: SparkSession, anchor: String, hwm: Long): Long = {
    val hits = IndexManifest.history(s, anchor)
      .filter(_.ingestHwm.exists(_ <= hwm))
    require(hits.nonEmpty,
      s"versionAtIngestHwm: $anchor has no committed epoch at or below " +
        s"ingest mark $hwm — its lineage started past the requested snapshot")
    hits.map(_.version).max
  }

  /** Deliberately clear the ingest fence — the operator's escape hatch
    * for pointing a NEW stream lineage at an index whose previous
    * lineage is dead (after verifying the new input is not a replay of
    * already-ingested rows, which this makes re-ingestable).
    */
  def resetIngestFence(s: SparkSession, indexPath: String): Unit = {
    val e = IndexManifest.next(s, indexPath)
    IndexManifest.commit(s, indexPath,
      e.copy(ingestHwm = None, ingestStream = None))
  }

  /** The inline fold trigger every streaming ingest runner shares: true
    * once the open window holds at least `foldEvery` delta batches
    * (foldEvery <= 0 disables). One manifest read — the single policy
    * point, so a cadence change lands once, not per runner.
    */
  def windowReached(s: SparkSession, anchor: String, foldEvery: Int): Boolean =
    foldEvery > 0 &&
      IndexManifest.current(s, anchor).exists(_.deltas.size >= foldEvery)

  /** The live buffered batches unioned with a `batch_seq` ordinal (commit
    * order), or None when the window is empty — the common case, costing
    * probes nothing.
    */
  def deltaFrame(s: SparkSession, indexPath: String): Option[DataFrame] =
    deltaFrameOf(s, IndexManifest.current(s, indexPath))

  /** [[deltaFrame]] of a SPECIFIC epoch (None = the build state) — the
    * as-of read's delta arm.
    */
  def deltaFrameOf(s: SparkSession, ep: Option[IndexManifest.Epoch]): Option[DataFrame] = {
    val bs = ep.map(_.deltas).getOrElse(Vector.empty)
    if (bs.isEmpty) None
    else Some(bs.zipWithIndex.map { case (p, i) =>
      s.read.parquet(p).withColumn("batch_seq", lit(i))
    }.reduce(_ unionByName _))
  }

  /** Latest-batch-per-id view of an epoch's buffered batches: an id
    * updated twice in one window surfaces only its newest rows (the
    * batches are window-bounded, so the per-id max is a small aggregate).
    */
  def deltaLatestOf(
      s: SparkSession, ep: Option[IndexManifest.Epoch], idCol: String): Option[DataFrame] =
    deltaFrameOf(s, ep).map { d =>
      val latest = d.groupBy(col(idCol)).agg(max(col("batch_seq")).as("batch_seq"))
      d.join(broadcast(latest), Seq(idCol, "batch_seq")).drop("batch_seq")
    }

  /** FS-qualify a path string for set comparison (the manifest stores
    * paths as the writers spelled them; `file:/x` and `/x` must compare
    * equal). Shared by [[vacuum]] and [[reclaimRetiredLocation]].
    */
  private def canonPath(
      conf: org.apache.hadoop.conf.Configuration, p: String): String = {
    val path = new org.apache.hadoop.fs.Path(p)
    path.getFileSystem(conf).makeQualified(path).toString
  }

  /** Recursive best-effort delete: Some(existed-and-deleted) on success,
    * None on IOException (the caller decides whether the failure blocks
    * anything — vacuum retries at its next run).
    */
  private def quietDelete(
      conf: org.apache.hadoop.conf.Configuration, d: String): Option[Boolean] =
    try {
      val p = new org.apache.hadoop.fs.Path(d)
      Some(p.getFileSystem(conf).delete(p, true))
    } catch { case _: java.io.IOException => None }

  /** Reclaim unreferenced lifecycle artifacts — the GC half of the
    * prepare-then-commit discipline: every mutation prepares files under
    * version-derived names (`_stats_e<v>`, `_tombstones/f<v>`,
    * `_delta/b<v>`, `<data>__e<v>`), so anything with an embedded version
    * BELOW the current epoch that the current epoch does not reference is
    * provably garbage — a superseded stats dir, a folded-but-unreclaimed
    * data epoch, a crashed writer's leavings whose retry landed under the
    * same names. Candidates are ENUMERATED from the same name derivations
    * the writers use (never directory listings). Both the keep set and
    * the candidates are FS-QUALIFIED before comparison: the manifest
    * stores paths as the writers spelled them, and a caller spelling the
    * anchor with a different URI scheme/authority (`file:/x` vs `/x`)
    * must neither miss garbage nor false-delete a LIVE dir the strings
    * happen to name differently. Artifacts at version
    * current+1 are deliberately left: they are either a crashed prepare
    * the retry will overwrite, or an in-flight prepare. Returns the number
    * of directories reclaimed. Safe at any time under the single-writer
    * discipline. LIVE probes are unaffected (they resolve the current
    * epoch, whose references are always kept — pinned in TombstoneSpec);
    * AS-OF reads are where vacuum bites: it reclaims superseded epochs'
    * artifacts, so it BOUNDS the time-travel horizon. `keepEpochs` is the
    * retention window (the Delta `VACUUM RETAIN` shape): the N most
    * recently superseded epochs' referenced artifacts are kept alongside
    * the current epoch's, so [[IndexManifest.at]] reads within the window
    * survive the GC; an as-of read OUTSIDE the window (or a
    * same-generation as-of after the default full vacuum) fails loudly
    * mid-plan on the reclaimed path — never silently wrong. The default
    * (0) keeps only the current epoch: maximal reclaim, no travel.
    */
  def vacuum(
      s: SparkSession, anchor: String,
      defaultData: Option[String] = None, keepEpochs: Int = 0): Long = {
    IndexManifest.current(s, anchor) match {
      case None => 0L
      case Some(cur) =>
        val conf = s.sparkContext.hadoopConfiguration
        def canon(p: String): String = canonPath(conf, p)
        // the retention window: the current epoch plus the keepEpochs most
        // recently superseded ones — every artifact any of them references
        // survives, so as-of reads within the window still resolve.
        // Resolved through history() rather than a dense version range:
        // a fold's carry epoch CONTINUES the previous lineage's numbering
        // on a fresh anchor, so histories legitimately have holes, and a
        // dense-range at() would throw on them (review-found). The window
        // is the last keepEpochs+1 COMMITTED entries, not a version-
        // arithmetic filter: across a hole the arithmetic window silently
        // retains FEWER epochs than requested, and an as-of read nominally
        // inside it would fail (review-found).
        val hist = IndexManifest.history(s, anchor).sortBy(_.version)
        val retained: Seq[IndexManifest.Epoch] = hist.takeRight(keepEpochs + 1)
        // the bare default data dir is referenced by every retained epoch
        // that does NOT redirect data — keep it for them; once every
        // retained epoch points at an epoch-named fold dir, the default
        // is the first fold's superseded source (deferred-reclaim garbage)
        val keep = retained.flatMap(e => e.stats.toSeq ++ e.data.toSeq ++
          e.tombstones ++ e.deltas).map(canon).toSet ++
          (if (retained.exists(_.data.isEmpty))
            defaultData.map(canon).toSet else Set.empty[String])
        var n = 0L
        for (v <- 1L until cur.version) {
          val candidates = Seq(
            epochStatsDir(anchor, v),
            s"${sidecar(anchor)}/f$v",
            s"${deltaDir(anchor)}/b$v") ++
            defaultData.map(d => s"${d.stripSuffix("/")}__e$v")
          candidates.filterNot(c => keep(canon(c))).foreach { c =>
            if (quietDelete(conf, c).contains(true)) n += 1 // IOException: retry next vacuum
          }
        }
        defaultData.filterNot(d => keep(canon(d))).foreach { d =>
          if (quietDelete(conf, d).contains(true)) n += 1
        }
        // RETIRED locations — whole directories a deferred-reclaim fold
        // superseded: reclaimed once the epoch that retired them falls
        // outside the last `keepEpochs` commits (keepEpochs = 0 reclaims
        // them all — the retired dir serves nobody but in-flight pre-fold
        // plans, never an as-of read, which refuses across folds anyway).
        // Recursive: a retired location's own manifest may name locations
        // IT retired (chained folds).
        val protectedVersions =
          hist.takeRight(keepEpochs).map(_.version).toSet
        hist.filterNot(e => protectedVersions(e.version))
          .flatMap(_.retired).distinct
          .foreach(loc => n += reclaimRetiredLocation(s, loc, Set(canon(anchor)))._1)
        n
    }
  }

  /** Reclaim one retired index location whole: its own retired chain
    * first (depth-first — chained folds), then its sidecar, delta dir,
    * and the location itself, and its MANIFEST LAST — only once
    * everything else (children included) deleted cleanly, because the
    * manifest is the only record naming the chained children: deleting it
    * over a transient child failure would turn "retry at the next vacuum"
    * into a permanent leak (review-found). Returns (dirs reclaimed,
    * everything-clean). `visited` carries the LIVE anchor and every
    * location already on the recursion path: a retired location that IS
    * the live anchor (the search family's first fold retires its
    * anchor-path table dir — the anchor and the initial table location
    * are the same string) reclaims the superseded DATA directory only,
    * never the live manifest/sidecar/delta dirs, and never recurses into
    * its own history (which would loop forever).
    */
  private def reclaimRetiredLocation(
      s: SparkSession, loc: String, visited: Set[String]): (Long, Boolean) = {
    val conf = s.sparkContext.hadoopConfiguration
    var n = 0L
    var ok = true
    def del(d: String): Unit = quietDelete(conf, d) match {
      case Some(true) => n += 1
      case Some(false) =>
        // delete() returns false BOTH for "didn't exist" and for a
        // PARTIAL recursive failure (Hadoop's fullyDelete swallows and
        // reports false rather than throwing) — only a verified absence
        // counts as clean, or a partial failure would let the manifest
        // delete below proceed and orphan the leftovers (review-found)
        try {
          val p = new org.apache.hadoop.fs.Path(d)
          if (p.getFileSystem(conf).exists(p)) ok = false
        } catch { case _: java.io.IOException => ok = false }
      case None => ok = false
    }
    val c = canonPath(conf, loc)
    if (visited(c)) del(loc)
    else {
      IndexManifest.history(s, loc).flatMap(_.retired).distinct.foreach { l =>
        val (cn, cok) = reclaimRetiredLocation(s, l, visited + c)
        n += cn
        ok &&= cok
      }
      Seq(sidecar(loc), deltaDir(loc), loc).foreach(del)
      if (ok) del(IndexManifest.dir(loc))
    }
    (n, ok)
  }

  /** Re-encode a committed index under this library's CURRENT layout —
    * the rewrite a layout bump needs when old indexes must keep serving
    * (the [[IndexManifest]] layout stamp refuses a FUTURE layout loudly;
    * a PAST layout reads fine under this library's compatibility window,
    * but its physical files still carry the old contract, and the next
    * library version may drop the compat read path — migration is how an
    * index crosses that boundary once instead of every probe paying the
    * compat branch forever). Mechanics: the migration IS the family's
    * fold (`fold` — compactSearchIndex / compactIvfIndex /
    * compactBucketedIndex / compactFlat), because a fold already rewrites
    * every standing file through this library's writers and lands as ONE
    * commit with the generation bump; the commit path stamps
    * CURRENT_LAYOUT on the new epoch ([[IndexManifest.next]]), so after
    * it the manifest's layout matches the physical files by
    * construction. As-of travel across the migration refuses loudly
    * exactly like any fold (the generation guard). Returns true when a
    * rewrite ran; false when the index is already at the current layout
    * (or never mutated — an unmanifested index carries no stamp to
    * migrate and reads at layout 1 by definition: fold it once if its
    * FILES predate the current contract). Pinned in TombstoneSpec via
    * the [[IndexManifest.layoutForTest]] hook. `anchorAfter` re-resolves
    * the anchor for the post-fold stamp check — the location-anchored
    * families' fold MOVES the anchor (pass `() =>
    * tableLocation(s, table)`); the immutable-anchor families omit it.
    */
  def migrateIndexLayout(
      s: SparkSession, anchor: String,
      anchorAfter: Option[() => String] = None)(fold: => Unit): Boolean =
    IndexManifest.current(s, anchor) match {
      case Some(cur) if cur.layout != IndexManifest.CURRENT_LAYOUT =>
        fold
        val after = IndexManifest.current(
          s, anchorAfter.map(_.apply()).getOrElse(anchor))
        require(after.exists(_.layout == IndexManifest.CURRENT_LAYOUT),
          s"migrateIndexLayout: $anchor's fold committed layout " +
            s"${after.map(_.layout).getOrElse(-1)}, expected " +
            s"${IndexManifest.CURRENT_LAYOUT} — the family's fold must land " +
            "its epoch through IndexManifest.next/commit")
        true
      case _ => false
    }

  /** One index's outstanding-maintenance report — the operational signal
    * that triggers compaction: how many ids are tombstoned, how many
    * PHYSICAL base rows their mask suppresses on every probe (what a fold
    * would reclaim), how many base rows still serve, how many buffered
    * update batches are open, and the masked fraction in ppm. `rows` is
    * the family's physical base frame (the bucketed table scan, the IVF
    * data dir) — deltas are counted as batches, not rows, because their
    * cost driver is the per-probe union arm count. Registered as
    * `q_index_tombstone_debt` (the fixed-takedown scenario, oracle-paired)
    * and pinned against live indexes in TombstoneSpec.
    */
  def debt(family: String, rows: DataFrame, anchor: String, idCol: String): DataFrame = {
    val s = rows.sparkSession
    // resolve the epoch ONCE: the batch count, the tombstone count, and
    // the mask all come from the same committed state
    val man = IndexManifest.current(s, anchor)
    val nBatches = man.map(_.deltas.size.toLong).getOrElse(0L)
    // ONE fragment read: the id set collects to the driver (a bounded
    // takedown list — the broadcast below would materialize it there
    // anyway), serving both the count and the mask side
    val tsIds = idSetOf(s, man).map(_.collect().map(_.getLong(0)))
    val nT = tsIds.map(_.length.toLong).getOrElse(0L)
    val flagged = tsIds.filter(_.nonEmpty) match {
      case Some(ids) =>
        import s.implicits._
        rows.select(idCol).join(
            broadcast(ids.toSeq.toDF(idCol).withColumn("is_del", lit(1L))),
            Seq(idCol), "left")
          .select(coalesce(col("is_del"), lit(0L)).as("is_del"))
      case None => rows.select(lit(0L).as("is_del"))
    }
    flagged.agg(
        coalesce(sum(col("is_del")), lit(0L)).as("masked_rows"),
        coalesce(sum(lit(1L) - col("is_del")), lit(0L)).as("live_rows"))
      .select(
        lit(family).as("family"),
        lit(nT).as("n_tombstones"),
        col("masked_rows"),
        col("live_rows"),
        lit(nBatches).as("delta_batches"),
        expr("CASE WHEN masked_rows + live_rows = 0 THEN 0 " +
          "ELSE masked_rows * 1000000 div (masked_rows + live_rows) END")
          .as("masked_ppm"))
  }

  /** The index's mutation log — one row per committed epoch, with the
    * mutation KIND derived by diffing consecutive epochs (version files
    * record state, not intent, so the log reconstructs intent from what
    * changed — the DESCRIBE-HISTORY read):
    *   - a delta batch appeared          → `ingest` (the commit also moved
    *     the high-water mark), `update` (a masking fragment rode along —
    *     the buffered-update shape), or `append` (neither: the
    *     insert-only one-commit append);
    *   - only a tombstone fragment       → `delete`;
    *   - fragments/deltas cleared        → `fold` (a compaction retired
    *     them; data/stats pointers ride along);
    *   - only the base generation moved  → `base_mutation` (an append or
    *     compaction's pre-swap fence);
    *   - only the stats pointer moved    → `stats_advance` (an append's
    *     stats commit).
    * `new_tombstoned_ids` counts the ids in the epoch's OWN fragment (the
    * takedown/update batch size) — NULL once a later fold/vacuum
    * physically reclaimed that fragment (the pointer log is immutable;
    * the files it names are not). Driver-side control-plane reads
    * throughout — the log is an operational report over a handful of
    * small files, never a data-plane scan. Registered (fixed scenario) as
    * `q_index_manifest_log`; live-index parity pinned in TombstoneSpec.
    */
  def manifestLog(s: SparkSession, anchor: String): DataFrame = {
    import s.implicits._
    val hist = IndexManifest.history(s, anchor)
    val zero = IndexManifest.Epoch(0L, None, None, Vector.empty)
    val conf = s.sparkContext.hadoopConfiguration
    val pairs = hist.zip(zero +: hist)
    // ONE counting job for ALL still-live fragments across the whole
    // history (a count() per fragment per epoch was a driver-side job
    // storm at depth — fine at 3 epochs, thousands of jobs at thousands):
    // each fragment reads under a literal ordinal, one union, one groupBy.
    // Fragment count is control-plane bounded, so the union arm list is too.
    val allFrags: Seq[String] = pairs
      .flatMap { case (e, prev) => e.tombstones.filterNot(prev.tombstones.toSet) }
      .distinct
      .filter { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        p.getFileSystem(conf).exists(p)
      }
    val fragCount: Map[String, Long] =
      if (allFrags.isEmpty) Map.empty
      else allFrags.zipWithIndex
        .map { case (f, i) => s.read.parquet(f).select(lit(i).as("fi")) }
        .reduce(_ unionAll _)
        .groupBy("fi").agg(count(lit(1)).as("n"))
        .collect().map(r => (allFrags(r.getInt(0)), r.getLong(1))).toMap
    val rows = pairs.map { case (e, prev) =>
      val newFrags = e.tombstones.filterNot(prev.tombstones.toSet)
      val deltaAdded = e.deltas.size > prev.deltas.size
      // a fold either retires outstanding fragments/deltas or — when the
      // window was already empty (pure small-file maintenance) — moves
      // the data pointer to the compacted epoch dir; both are the
      // physical-rewrite commit, distinct from an append's bare fence
      val cleared = (prev.tombstones.nonEmpty && e.tombstones.isEmpty) ||
        (prev.deltas.nonEmpty && e.deltas.isEmpty) ||
        e.data != prev.data
      val mutation =
        if (cleared) "fold"
        else if (deltaAdded && e.ingestHwm != prev.ingestHwm) "ingest"
        else if (deltaAdded && newFrags.nonEmpty) "update"
        else if (deltaAdded) "append"
        else if (newFrags.nonEmpty) "delete"
        else if (e.baseGen != prev.baseGen) "base_mutation"
        else if (e.stats != prev.stats) "stats_advance"
        else if (e.ingestHwm != prev.ingestHwm ||
          e.ingestStream != prev.ingestStream) "fence" // reset, or carried across a fold
        else "other"
      val newIds =
        if (newFrags.isEmpty) Some(0L)
        else if (newFrags.exists(f => !fragCount.contains(f)))
          None // reclaimed by a later fold/vacuum
        else Some(newFrags.map(fragCount).sum)
      (e.version, mutation, e.baseGen, e.tombstones.size.toLong,
        e.deltas.size.toLong, newIds, e.ingestHwm)
    }
    rows.toDF("version", "mutation", "base_gen", "n_live_frags",
      "n_live_deltas", "new_tombstoned_ids", "ingest_hwm")
  }

  /** The compaction-trigger POLICY over [[debt]] — the operational rule
    * the audit exists to feed: fold when the masked fraction passes
    * `maxMaskedPpm` (every probe re-pays the mask until a fold reclaims
    * it) or the open update window passes `maxDeltaBatches` (every probe
    * pays one union arm per batch). Defaults: 10% masked or 8 open
    * batches — deployment knobs, not constants of nature. One debt scan;
    * the caller composes with its family's compactor (`if
    * (needsCompaction(..)) compactSearchIndex(..)` — pinned in
    * TombstoneSpec).
    */
  def needsCompaction(
      family: String, rows: DataFrame, anchor: String, idCol: String,
      maxMaskedPpm: Long = 100000L, maxDeltaBatches: Long = 8L): Boolean = {
    val r = debt(family, rows, anchor, idCol).head
    r.getLong(5) >= maxMaskedPpm || r.getLong(4) >= maxDeltaBatches
  }

  private def epochStatsDir(indexPath: String, version: Long): String =
    s"${indexPath.stripSuffix("/")}_stats_e$version"

  /** Write `stats` under epoch `version`'s stats directory; returns it. */
  private[sources] def writeEpochStats(
      indexPath: String, version: Long, stats: DataFrame): String = {
    val d = epochStatsDir(indexPath, version)
    stats.write.mode("overwrite").parquet(d)
    d
  }

  private[sources] def writeFragment(
      s: SparkSession, indexPath: String, version: Long, ids: Seq[Long]): String = {
    import s.implicits._
    val frag = s"${sidecar(indexPath)}/f$version"
    // one part file: a takedown batch is a bounded request list, and a
    // single-file fragment cannot be read half-landed even mid-write
    ids.toDF("id").coalesce(1).write.mode("overwrite").parquet(frag)
    frag
  }

  /** The distinct tombstoned id set, or None when the current epoch has
    * no live fragments (the common case — probes pay nothing).
    */
  def idSet(s: SparkSession, indexPath: String): Option[DataFrame] =
    idSetOf(s, IndexManifest.current(s, indexPath))

  /** [[idSet]] of a SPECIFIC epoch (None = the build state) — the as-of
    * read's tombstone arm.
    */
  def idSetOf(s: SparkSession, ep: Option[IndexManifest.Epoch]): Option[DataFrame] =
    ep.filter(_.tombstones.nonEmpty).map { e =>
      s.read.parquet(e.tombstones: _*).select("id").distinct()
    }

  /** [[filter]] against a SPECIFIC epoch's tombstones. */
  def filterOf(
      df: DataFrame, ep: Option[IndexManifest.Epoch], idCol: String): DataFrame =
    idSetOf(df.sparkSession, ep) match {
      case Some(t) =>
        df.join(broadcast(t.withColumnRenamed("id", idCol)), Seq(idCol), "left_anti")
      case None => df
    }

  /** Drop tombstoned rows from an index scan: broadcast anti-join on
    * `idCol` — the index side keeps its bucketing/partitioning (no
    * exchange), and with no live fragments the frame passes through
    * untouched (zero plan overhead for never-deleted indexes).
    */
  def filter(df: DataFrame, indexPath: String, idCol: String): DataFrame =
    idSet(df.sparkSession, indexPath) match {
      case Some(t) =>
        df.join(broadcast(t.withColumnRenamed("id", idCol)), Seq(idCol), "left_anti")
      case None => df
    }

  /** Mark all tombstones folded (called by [[compactBucketedIndex]] for
    * an immutable anchor, after the physical rewrite no longer contains
    * the masked rows): commit an epoch with no live fragments or deltas —
    * stats and data pointers ride along unchanged. A crash between the
    * rewrite and this commit is harmless: the still-listed tombstones
    * anti-join against rows that no longer exist. The base generation is
    * NOT bumped here: the compactor commits that bump BEFORE its physical
    * mutation (bumping here instead would leave a crash window in which
    * as-of reads silently return the compacted table as an older epoch's
    * state). `retired` records the location(s) the fold superseded; the
    * folded fragment/delta files stay on disk for in-flight pre-fold
    * plans, and [[vacuum]] enumerates them by version and reclaims them
    * honoring its retention window.
    */
  def clear(
      s: SparkSession, indexPath: String, retired: Vector[String] = Vector.empty): Unit = {
    val e = IndexManifest.next(s, indexPath)
    if (e.version > 1 || e.tombstones.nonEmpty || e.deltas.nonEmpty ||
        retired.nonEmpty)
      IndexManifest.commit(s, indexPath,
        e.copy(tombstones = Vector.empty, deltas = Vector.empty, retired = retired))
  }

  /** Erase an anchor's lifecycle state entirely — builders call this so a
    * rebuild starts from the defaults, and the location-anchored
    * compaction calls it on its destination (so a retried fold does not
    * collide with its previous attempt's carry commit). Before the
    * manifest drops, the epochs' artifacts are reclaimed — [[vacuum]] for
    * superseded versions, then the CURRENT epoch's redirected data/stats
    * dirs (the rebuild writes the defaults, so an epoch-named
    * `_stats_eN`/`__eN` dir the manifest no longer exists to name would
    * otherwise leak forever: once the manifest is gone, vacuum is a no-op).
    */
  def reset(s: SparkSession, indexPath: String): Unit = {
    val conf = s.sparkContext.hadoopConfiguration
    IndexManifest.current(s, indexPath).foreach { cur =>
      // the epoch-data naming convention is `<default>__e<v>` — recover
      // the default from the current pointer so vacuum can enumerate the
      // superseded data epochs too
      val defaultData = cur.data.map(_.replaceAll("__e\\d+$", ""))
      vacuum(s, indexPath, defaultData)
      (cur.data.toSeq ++ cur.stats.toSeq).foreach(quietDelete(conf, _))
    }
    IndexManifest.reset(s, indexPath)
    Seq(sidecar(indexPath), deltaDir(indexPath)).foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(conf).delete(p, true)
    }
  }

  /** Fold tombstones AND any open update window into a FLAT parquet index
    * directory (PQ/SQ code tables, the RP sketch): write the visible rows
    * (base minus tombstones plus latest buffered deltas — deltas MUST fold
    * in, or the rewrite would drop every ingested-but-unfolded row) to a
    * fresh epoch-named directory and redirect the manifest's data pointer
    * in the same commit that drops the fragments and deltas — no directory
    * rename anywhere, so the swap is object-store-safe and a crash at any
    * point leaves readers on the previous (data, tombstones, deltas)
    * triple. `anchorPath` is the index's manifest anchor, which may be a
    * PARENT of `defaultData` (PQ/SQ anchor at the index root beside
    * codes/codebook) — only call this for the one component that carries
    * per-vector rows, or tombstones would clear before every component
    * folded.
    */
  def compactFlat(
      s: SparkSession, defaultData: String, anchorPath: String, idCol: String): Unit =
    compactToEpochDir(s, defaultData, anchorPath) { (_, dest, ep) =>
      visibleFlatOf(s, ep, defaultData, idCol)
        .write.mode("overwrite").parquet(dest)
    }

  /** The probe-visible rows of a FLAT index layout (PQ/SQ code tables):
    * the epoch-resolved data dir minus tombstones plus the latest
    * buffered/ingested batches, all threaded through ONE manifest read —
    * the `visiblePostings` discipline applied to the flat families.
    * Shared by the from-index probes and [[compactFlat]]'s fold source.
    */
  def visibleFlat(
      s: SparkSession, anchorPath: String, defaultData: String,
      idCol: String): DataFrame =
    visibleFlatOf(s, IndexManifest.current(s, anchorPath), defaultData, idCol)

  /** [[visibleFlat]] against a SPECIFIC resolved epoch. */
  def visibleFlatOf(
      s: SparkSession, ep: Option[IndexManifest.Epoch], defaultData: String,
      idCol: String): DataFrame = {
    val base = filterOf(
      s.read.parquet(ep.flatMap(_.data).getOrElse(defaultData)), ep, idCol)
    deltaLatestOf(s, ep, idCol) match {
      case Some(d) => base.unionByName(d.select(base.columns.map(col).toSeq: _*))
      case None    => base
    }
  }

  /** The shared prepare-then-commit skeleton of the path-based compactors:
    * resolve the current data dir, let `rewrite` materialize the
    * compacted form under the next epoch's name, and commit (new data
    * pointer, zero live fragments) as the single atom. The rewrite
    * receives the RESOLVED epoch (the one-manifest-read-per-operation
    * discipline — its tombstone/delta/data state is what the commit will
    * retire, so the fold source and the committed epoch can never describe
    * different states). The superseded data dir, folded fragments and
    * delta batches stay on disk for [[vacuum]]: they are all
    * version-enumerable, so no `retired` record is needed, and a probe
    * planned pre-fold keeps executing against files that still exist (the
    * Delta/Iceberg discipline).
    */
  private[graft] def compactToEpochDir(
      s: SparkSession, defaultData: String, anchorPath: String)(
      rewrite: (String, String, Option[IndexManifest.Epoch]) => Unit): Unit = {
    val e = IndexManifest.next(s, anchorPath)
    val cur = e.data.getOrElse(defaultData)
    val dest = s"${defaultData.stripSuffix("/")}__e${e.version}"
    // the next-template differs from the current epoch only in version —
    // passing it as the resolved state keeps every read arm on one epoch
    rewrite(cur, dest, Some(e))
    IndexManifest.commit(s, anchorPath,
      e.copy(data = Some(dest), tombstones = Vector.empty, deltas = Vector.empty,
        baseGen = e.baseGen + 1))
  }

  /** Compact a bucketed catalog-table index, folding tombstones and any
    * open update window in — the one rewrite all five bucketed families
    * (postings/term, winnow/fp, MinHash band/bk, phash band/bk,
    * prefix/x) share. `source` is the family's probe-visible view (base
    * minus tombstones, superseded by the open window's latest rows), so
    * the rewrite holds exactly what probes serve. Mechanics: repartition
    * on the DERIVED bucket id (hash pmod n — repartitioning on the bucket
    * column itself pattern-matches the bucket spec and the planner elides
    * the shuffle, leaving one file per task per bucket), so each bucket's
    * rows sit in exactly one shuffle partition. Adaptive execution may
    * coalesce those partitions, but it only merges whole partitions, so a
    * bucket never spans two tasks and the write still leaves one file per
    * bucket; the session conf is left alone (probes on other threads plan
    * against the same session). The rewrite goes to a fresh location
    * under a staging table (which validates the bucket layout), then the
    * SERVING table swaps to the new location with ONE metastore statement
    * — `ALTER TABLE .. SET LOCATION`. The single-statement swap is the
    * point: the previous DROP TABLE + RENAME pair had a crash window with
    * NO serving table at all, while here every crash point resolves —
    * before the statement the old location serves (the staged rewrite is
    * reclaimable garbage a retry overwrites), after it the new one does
    * (crash-injection pinned in TombstoneSpec via
    * [[failBeforeTableSwap]]/[[failAfterTableSwap]]). The table's bucket
    * spec lives on the SERVING entry and never changes; the staged files
    * carry their bucket-id file names, so the relocated read keeps the
    * exchange-free bucketed plan. (A manifest-pointer resolution was
    * considered instead — but bucketed reads need the catalog's bucket
    * spec, so the catalog entry IS this family's pointer; SET LOCATION is
    * its one-statement commit.) After this, the table is
    * byte-equivalent to a fresh build over the surviving rows: one file
    * per bucket, no tombstones outstanding.
    *
    * `anchor`: the tombstone/manifest anchor. None (the location-anchored
    * families) uses the table's current location, which the fold moves:
    * the carry epoch at the destination takes over the lineage. Some(path)
    * (the search index, whose manifest also carries the stats pointer)
    * keeps the anchor alive and commits a fragment-clearing epoch instead.
    *
    * Reclaim is deferred: the superseded location, its manifest, sidecar
    * and delta dirs stay on disk, recorded as `retired` in the carry or
    * clearing epoch, so a probe DataFrame planned pre-fold executes
    * successfully post-fold (the Delta/Iceberg discipline — the fold is
    * invisible to in-flight readers); [[vacuum]] reclaims them honoring
    * `keepEpochs`.
    */
  def compactBucketedIndex(
      s: SparkSession, table: String, source: DataFrame,
      anchor: Option[String] = None): Unit = {
    val ident = s.sessionState.sqlParser.parseTableIdentifier(table)
    val meta = s.sessionState.catalog.getTableMetadata(ident)
    val spec = meta.bucketSpec.getOrElse(
      throw new IllegalArgumentException(
        s"compactBucketedIndex: $table has no bucket spec"))
    val nb = spec.numBuckets
    val bcol = spec.bucketColumnNames.head
    val cur = meta.location.toString
    val dest = cur.stripSuffix("/") + "__c"
    s.sql(s"DROP TABLE IF EXISTS ${table}__c")
    val w = source.repartition(nb, expr(s"pmod(hash($bcol), $nb)"))
      .write.mode("overwrite").bucketBy(nb, bcol)
    spec.sortColumnNames.headOption
      .fold(w)(sc => w.sortBy(sc, spec.sortColumnNames.tail: _*))
      .option("path", dest)
      .saveAsTable(s"${table}__c")
    // the base-generation bump must land BEFORE the catalog swap mutates
    // what old-epoch readers resolve: a crash between the swap and the
    // tombstone-clearing commit then leaves as-of reads REFUSING loudly
    // (gen mismatch) instead of silently returning the compacted table as
    // an older epoch's state. A crash between this bump and the swap is
    // merely conservative — the table is unchanged, live probes are
    // exact, and as-of refuses an epoch it could still have served.
    // (Location anchors skip it: the anchor dies with the location.)
    anchor.foreach(bumpBaseGeneration(s, _))
    // the ingest fence is LOGICAL index state, not location state: the
    // location-anchored fold must carry it to the new location or a
    // post-fold replay of an already-folded batch would re-ingest. It
    // lands at the DESTINATION before the swap — at every crash point
    // either the old location (with its fence) is still what readers
    // resolve, or the swap happened and the destination's fence is
    // already committed; the fence can never be lost. The destination's
    // manifest is reset first so a retried compaction (same __c location)
    // does not collide with its own previous attempt's fence commit.
    // The carried epoch CONTINUES the old lineage's version numbering and
    // bumps the generation: starting the fresh anchor at v1 would let an
    // as-of read of pre-fold "epoch 1" silently resolve a post-fold state
    // as an older epoch's — version continuation keeps every pre-fold
    // version a loud missing-epoch failure, and the bump records that the
    // fold rewrote the base. The carry always lands: it also records the
    // retirement, without which the superseded location would leak forever
    // (vacuum only reclaims what an epoch names); a never-mutated old
    // anchor has no epochs to alias and starts the destination at v1.
    if (anchor.isEmpty) {
      reset(s, dest)
      val old = IndexManifest.current(s, cur)
      IndexManifest.commit(s, dest, IndexManifest.Epoch(
        version = old.fold(1L)(_.version + 1), data = None, stats = None,
        tombstones = Vector.empty, deltas = Vector.empty,
        baseGen = old.fold(1L)(_.baseGen + 1),
        ingestHwm = old.flatMap(_.ingestHwm), ingestStream = old.flatMap(_.ingestStream),
        retired = Vector(cur)))
    }
    if (failBeforeTableSwap) {
      failBeforeTableSwap = false
      throw new RuntimeException(
        s"Tombstones: injected crash before swapping $table to $dest")
    }
    // THE swap — one metastore statement: the serving table's location
    // moves to the staged rewrite. Before this statement the old location
    // serves; after it the new one does; there is no in-between (the old
    // DROP+RENAME pair left a window with no serving table at all).
    s.sql(s"ALTER TABLE $table SET LOCATION '$dest'")
    s.catalog.refreshTable(table)
    if (failAfterTableSwap) {
      failAfterTableSwap = false
      throw new RuntimeException(
        s"Tombstones: injected crash after swapping $table to $dest")
    }
    // retire the staging entry (external table: metadata-only, the files
    // it named are now the SERVING files)
    s.sql(s"DROP TABLE IF EXISTS ${table}__c")
    // the rewrite no longer contains the tombstoned rows: a location
    // anchor dies with its location (its fence and retirement already
    // carried to the destination above, pre-swap); an immutable anchor
    // commits a clearing epoch that records the retirement (stats pointer
    // rides along unchanged; the gen bump already landed above, pre-swap)
    anchor.foreach(clear(s, _, retired = Vector(cur)))
  }
}
