package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One-call index maintenance — the loop an operator crons (reference
  * anchor: the reference's per-run artifact cleanup is a human clicking a
  * button, `app.py:148-155,215`; a fleet needs the same hygiene as a
  * scheduled job with no human in it).
  *
  * [[maintain]] composes the verified lifecycle pieces under ONE writer
  * lease: debt check ([[Tombstones.needsCompaction]] — masked-fraction and
  * open-window thresholds), fold if due (the family's own compactor,
  * passed in), then [[Tombstones.vacuum]] with the retention window. The
  * lease is what makes it safe to run CONCURRENTLY with a draining ingest:
  * the runner and the maintainer claim the same per-anchor lease, so the
  * fold never interleaves a runner's commit (and the manifest's version
  * collision stays the correctness guard beneath — soak-pinned in
  * StreamingSpec with maintenance as a separate thread against a live
  * drain). Vacuum after a location-moving fold runs on the NEW anchor
  * (`anchorAfter`), where the carry epoch's `retired` record names the
  * superseded location.
  */
object Lifecycle {

  /** What one maintenance pass did: whether the fold ran, and how many
    * directories vacuum reclaimed.
    */
  final case class Maintenance(folded: Boolean, reclaimed: Long)

  /** Run one maintenance pass over the index anchored at `anchor`.
    *
    * `rows` is the family's physical base frame (the debt denominator —
    * lazy, only evaluated under the lease); `fold` the family's compactor
    * (compactSearchIndex / compactIvfIndex / compactBucketedIndex /
    * compactFlat); `anchorAfter` is the LIVE anchor resolver for
    * location-anchored families (pass
    * `() => Tombstones.tableLocation(s, table)`) — it re-resolves the
    * anchor after a fold moves it AND backs the verified lease claim
    * (without it a concurrent writer's fold between the caller's anchor
    * snapshot and the lease acquisition leaves two claimants holding
    * different generations of the anchor — exclusion voided; see
    * [[WriterLease.withResolvedIngestLease]]); `defaultData` lets
    * vacuum enumerate epoch-named data dirs for the flat families.
    * `keepEpochs` is the vacuum retention window (how far back as-of
    * reads survive) — it DEFAULTS TO 1, not 0: maintain's whole point
    * is running beside live planners (the ingest runner it crons next
    * to, serving probes), and a pass that folds and then reclaims the
    * just-retired location in the same breath turns the fold's
    * deferred-reclaim invisibility into a reader-side FILE_NOT_EXIST
    * for any plan built against the pre-fold location — the group-drain
    * pin reproduced exactly this on the prefix family before the
    * default changed. Pass 0 only for an index this maintainer
    * exclusively owns. The fold thresholds are [[Tombstones
    * .needsCompaction]]'s knobs. `leaseWaitMs` < 0 opts the lease out
    * (the caller owns exclusion).
    *
    * A never-mutated index (no manifest) short-circuits: nothing to fold,
    * nothing to vacuum — the pass is free.
    */
  def maintain(
      s: SparkSession, anchor: String, family: String, rows: => DataFrame,
      idCol: String, fold: => Unit,
      anchorAfter: Option[() => String] = None,
      defaultData: Option[String] = None, keepEpochs: Int = 1,
      maxMaskedPpm: Long = 100000L, maxDeltaBatches: Long = 8L,
      holder: String = "maintenance",
      leaseWaitMs: Long = 600000L, leaseTtlMs: Long = 600000L): Maintenance =
    // VERIFIED lease claim: for a location-anchored family the caller's
    // `anchor` snapshot can be stale by the time the lease lands (a
    // concurrent runner's or maintainer's fold moved the location between
    // resolution and acquisition — two claimants then hold DIFFERENT
    // generations of the anchor and exclusion voids; the group-drain pin
    // reproduced this). `anchorAfter` doubles as the live resolver;
    // immutable-anchor families omit it and the verify is a no-op.
    WriterLease.withResolvedIngestLease(
        s, anchorAfter.getOrElse(() => anchor), holder,
        leaseWaitMs, leaseTtlMs) { a =>
      if (IndexManifest.current(s, a).isEmpty)
        Maintenance(folded = false, reclaimed = 0L)
      else {
        val due = Tombstones.needsCompaction(
          family, rows, a, idCol, maxMaskedPpm, maxDeltaBatches)
        if (due) fold
        // vacuum where the index lives NOW — a location-moving fold
        // retired the pre-fold location and recorded it at the destination
        val anchorNow =
          if (due) anchorAfter.map(_.apply()).getOrElse(a) else a
        Maintenance(due,
          Tombstones.vacuum(s, anchorNow, defaultData, keepEpochs))
      }
    }

  /** One maintenance pass over EVERY family of a corpus ingest group —
    * the cron entry a deployment points at the same
    * [[graft.streaming.DocumentsStream.CorpusIngestTargets]] its runner
    * takes ([[graft.streaming.DocumentsStream.runCorpusIngest]] /
    * `runHybridIngest`), over the same [[IndexFamily]] list the runner
    * ingests through, so each family's anchor, debt frame, fold and live
    * anchor resolver are the runner's own. Families maintain
    * INDEPENDENTLY (each under its own verified per-anchor lease,
    * serialized against the runner's per-batch claim): one family's fold
    * never blocks another's, and a failure in one family propagates after
    * the earlier families' passes already committed — safe, because a
    * maintenance pass is idempotent (debt re-checks, vacuum
    * re-enumerates). Returns what each family's pass did, keyed by family
    * name, in commit order.
    */
  def maintainGroup(
      s: SparkSession,
      targets: graft.streaming.DocumentsStream.CorpusIngestTargets,
      keepEpochs: Int = 1,
      maxMaskedPpm: Long = 100000L, maxDeltaBatches: Long = 8L,
      holder: String = "maintenance",
      leaseWaitMs: Long = 600000L, leaseTtlMs: Long = 600000L): Map[String, Maintenance] =
    maintainAll(s, IndexFamily.corpus(s, targets, dir = None), keepEpochs,
      maxMaskedPpm, maxDeltaBatches, holder, leaseWaitMs, leaseTtlMs)

  /** [[maintainGroup]] for a MEDIA-ASSET group
    * ([[graft.streaming.DocumentsStream.AssetIngestTargets]] — the
    * phash + embedding siblings `runAssetIngest` drains).
    */
  def maintainAssetGroup(
      s: SparkSession,
      targets: graft.streaming.DocumentsStream.AssetIngestTargets,
      keepEpochs: Int = 1,
      maxMaskedPpm: Long = 100000L, maxDeltaBatches: Long = 8L,
      holder: String = "maintenance",
      leaseWaitMs: Long = 600000L, leaseTtlMs: Long = 600000L): Map[String, Maintenance] =
    maintainAll(s, IndexFamily.assets(s, targets, dir = None), keepEpochs,
      maxMaskedPpm, maxDeltaBatches, holder, leaseWaitMs, leaseTtlMs)

  /** One [[maintain]] pass per family, in list order. A SeqMap, not
    * toMap: a plain immutable Map drops insertion order past 4 entries.
    */
  private def maintainAll(
      s: SparkSession, families: Seq[IndexFamily], keepEpochs: Int,
      maxMaskedPpm: Long, maxDeltaBatches: Long, holder: String,
      leaseWaitMs: Long, leaseTtlMs: Long): Map[String, Maintenance] =
    families.map { f =>
      f.name -> maintain(s, f.anchor(), f.name, f.rows(), f.idCol, f.compact(),
        anchorAfter = Some(f.anchor), defaultData = f.vacuumData,
        keepEpochs = keepEpochs, maxMaskedPpm = maxMaskedPpm,
        maxDeltaBatches = maxDeltaBatches, holder = holder,
        leaseWaitMs = leaseWaitMs, leaseTtlMs = leaseTtlMs)
    }.to(scala.collection.immutable.SeqMap)
}
