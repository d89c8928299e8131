package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The one guarded write path of every persisted index family (search,
  * band, winnow, prefix, phash, IVF, PQ, SQ8, k-NN graph, RP sketch): the
  * reference lands every batch through one insert loop (`app.py:67-161`),
  * and so does this engine — one entry point per kind of write, with every
  * guard private here, so no family can skip or re-spell one. A family
  * supplies only what really differs: its row encoding and its names for
  * error messages ([[Target]]).
  *
  * [[replace]] — a buffered update or fenced ingest batch (masking
  * tombstone + replacement rows in one commit), in this order:
  *   1. fence check: a replayed `batchId` of the same stream lineage is
  *      skipped (returns false), a different lineage throws;
  *   2. unique ids (the batch ids are collected); an empty batch returns
  *      here, committing nothing and advancing no fence;
  *   3. one manifest resolution, threaded through every later
  *      step;
  *   4. encode: the family's rows, plus optionally its masked ids, its
  *      row-landing ids and replacement stored stats;
  *   5. removal guard: a masked id that lands no rows may not live in the
  *      open window;
  *   6. resurrect guard: a row-landing id may not be a standing takedown;
  *   7. one [[commitUpdateBatch]].
  *
  * [[insert]] — an insert-only append (no masking tombstone), in this
  * order:
  *   1. fence check, as above;
  *   2. one distributed query for emptiness and duplicate ids (append
  *      batches are data-plane sized, so their ids are never collected);
  *      an empty batch returns here;
  *   3. one manifest resolution; deleted-id clash;
  *   4. ids already visible are refused, or dropped when the family's
  *      append is an idempotent replay (a batch left empty returns);
  *   5. encode, then one [[commitInsertBatch]].
  *
  * [[delete]] — a takedown: one manifest resolution, the
  * buffered-update clash guard, then one tombstone commit (with the
  * family's replacement stats, when it keeps any, in the same commit).
  */
object IndexWrite {

  /** Who is writing: the manifest anchor, the id column, the public
    * function named in errors (`what`) and the family's fold named as the
    * remedy (`fold`, e.g. `compactBandIndex`).
    */
  final case class Target(anchor: String, idCol: String, what: String, fold: String)

  /** One batch as a family encodes it.
    *
    * @param rows        the delta rows; unpersisted when the write ends, so
    *                    an encoder that reads them more than once may
    *                    persist them.
    * @param partitionBy the delta batch's partition columns.
    * @param landing     the ids that land rows, when some batch ids land
    *                    none (a document below its family's floor); None
    *                    means every batch id lands rows.
    * @param mask        the ids the commit tombstones, when they differ
    *                    from the batch ids; an empty mask commits nothing.
    * @param stats       replacement stored stats for the same commit.
    */
  final case class Encoded(
      rows: DataFrame,
      partitionBy: Seq[String] = Nil,
      landing: Option[Seq[Long]] = None,
      mask: Option[Seq[Long]] = None,
      stats: Option[DataFrame] = None)

  /** The distinct ids of `df`, collected. */
  def idsOf(df: DataFrame, idCol: String): Seq[Long] =
    df.select(idCol).distinct().collect().map(_.getLong(0)).toSeq

  /** Land one replacement batch (see the object doc for the steps).
    * `fence` is the (stream lineage, batch id) of an exactly-once ingest;
    * returns false only for a fenced replay.
    */
  def replace(batch: DataFrame, t: Target, fence: Option[(String, Long)])(
      encode: (Option[IndexManifest.Epoch], Seq[Long]) => Encoded): Boolean = {
    val s = batch.sparkSession
    if (!fenceAdmits(s, t, fence)) return false
    val ids = requireUniqueBatchIds(batch, t)
    if (ids.isEmpty) return true
    val ep = IndexManifest.current(s, t.anchor)
    val enc = encode(ep, ids)
    try {
      val mask = enc.mask.getOrElse(ids)
      val landing = enc.landing.getOrElse(ids)
      if (mask.nonEmpty) {
        requireNoBufferedClashOf(s, ep, t, mask.filterNot(landing.toSet))
        requireNoResurrectOf(s, ep, t, landing)
        commitUpdateBatch(s, t.anchor, mask, enc.stats, fence)(write(enc))
      }
      true
    } finally enc.rows.unpersist(false)
  }

  /** Land one insert-only batch (see the object doc for the steps).
    * `visible` is the family's served view under the resolved epoch; with
    * `dropVisible` ids already there are dropped (an idempotent replay),
    * otherwise they are refused. `encode` gets the epoch, that view (built
    * once: each build re-reads the index's files) and the batch's fresh
    * rows. Returns false only for a fenced replay.
    */
  def insert(
      batch: DataFrame, t: Target, fence: Option[(String, Long)],
      visible: Option[IndexManifest.Epoch] => DataFrame, dropVisible: Boolean = false)(
      encode: (Option[IndexManifest.Epoch], DataFrame, DataFrame) => Encoded): Boolean = {
    val s = batch.sparkSession
    import s.implicits._
    if (!fenceAdmits(s, t, fence)) return false
    val id = t.idCol
    // one id, two rows in ONE batch has no defined resolution order and
    // would double-serve under an insert-only append. One distributed
    // query answers both "empty?" and "duplicates?": the ids with the
    // highest row counts
    val top = batch.groupBy(id).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc).limit(5).collect()
    if (top.isEmpty) return true
    val dups = top.filter(_.getLong(1) > 1).map(_.getLong(0))
    require(dups.isEmpty,
      s"${t.what}: ${id}s ${dups.mkString(",")} appear more than once in the " +
        "batch — resolve to one version per id upstream")
    val ep = IndexManifest.current(s, t.anchor)
    // distinct once the check above passed
    val batchIds = batch.select(id)
    // a deleted id may not be re-used before a fold: the probe-side
    // anti-join would silently mask the re-inserted rows
    Tombstones.idSetOf(s, ep).foreach { ts =>
      val clash = ts.withColumnRenamed("id", id)
        .join(broadcast(batchIds), Seq(id), "left_semi")
        .limit(5).collect().map(_.getLong(0))
      require(clash.isEmpty,
        s"${t.what}: ${id}s ${clash.mkString(",")} were deleted from " +
          s"${t.anchor} — run ${t.fold} before re-using deleted ids")
    }
    // every visible batch id, collected (a distinct set bounded by the
    // batch — one job fewer than a limit(5) probe, which re-scans until
    // it fills)
    val served = visible(ep)
    val seen = served.select(id).join(broadcast(batchIds), Seq(id), "left_semi")
      .distinct().collect().map(_.getLong(0)).toSeq
    require(dropVisible || seen.isEmpty,
      s"${t.what}: ${id}s ${seen.take(5).mkString(",")} are already members of " +
        s"${t.anchor} — inserts take new ids only; replace them through the " +
        s"family's update path (or delete, ${t.fold}, re-insert)")
    val fresh =
      if (seen.isEmpty) batch
      else batch.join(broadcast(seen.toDF(id)), Seq(id), "left_anti")
    if (seen.nonEmpty && fresh.isEmpty) return true
    val enc = encode(ep, served, fresh)
    try commitInsertBatch(s, t.anchor, enc.stats, fence)(write(enc))
    finally enc.rows.unpersist(false)
    true
  }

  /** Tombstone `ids` (see the object doc). `stats` derives the family's
    * replacement stored stats from the resolved epoch; they land in the
    * tombstone's commit. No ids is a no-op, as an empty replace or insert
    * is: nothing is resolved or committed.
    */
  def delete(
      s: SparkSession, t: Target, ids: Seq[Long],
      stats: Option[Option[IndexManifest.Epoch] => DataFrame] = None): Unit = {
    if (ids.isEmpty) return
    val ep = IndexManifest.current(s, t.anchor)
    requireNoBufferedClashOf(s, ep, t, ids)
    stats match {
      case Some(f) => Tombstones.addWithStats(s, t.anchor, ids, f(ep))
      case None => Tombstones.add(s, t.anchor, ids)
    }
  }

  private def write(enc: Encoded)(dir: String): Unit =
    enc.rows.write.mode("overwrite").partitionBy(enc.partitionBy: _*).parquet(dir)

  /** The exactly-once admission test (the one source of truth for the
    * fence semantics): true = no fence, or the batch is new; false = an
    * at-least-once replay within the recorded lineage, skip it; a
    * DIFFERENT lineage throws loudly (its ids restart from 0 — fencing it
    * would silently drop never-ingested data). Reads the fence through
    * [[Tombstones.ingestFence]].
    */
  private def fenceAdmits(
      s: SparkSession, t: Target, fence: Option[(String, Long)]): Boolean =
    fence.forall { case (streamId, batchId) =>
      Tombstones.ingestFence(s, t.anchor) match {
        case Some((st, _)) if st != streamId =>
          throw new IllegalArgumentException(
            s"${t.what}: ${t.anchor} was ingested by stream lineage '$st' but " +
              s"this batch is from '$streamId' — batch ids are monotone only " +
              "within one checkpoint, so fencing across lineages would silently " +
              "drop data; reuse the original checkpoint, or run " +
              "Tombstones.resetIngestFence after verifying the new input is not " +
              "a replay")
        case Some((_, h)) => batchId > h
        case None => true
      }
    }

  /** One batch carrying the same id TWICE has no defined resolution order
    * (deltaLatestOf dedups across batches by commit order, never within
    * one), and the PQ encoder would silently blend two embeddings'
    * subspace codes into one garbage row — fail loudly and make the
    * upstream resolve versions per batch. Returns the batch's collected
    * id list.
    */
  private def requireUniqueBatchIds(df: DataFrame, t: Target): Seq[Long] = {
    val rows = df.select(t.idCol).collect().map(_.getLong(0))
    val ids = rows.distinct.toSeq
    require(rows.length == ids.length,
      s"${t.what}: the batch carries duplicate ${t.idCol}s " +
        s"(e.g. ${rows.diff(ids).take(5).mkString(",")}) — two versions of one id " +
        "in a single batch have no defined order; resolve to one version per id " +
        "upstream (or split into ordered batches)")
    ids
  }

  /** The buffered-update clash guard: a takedown of an id with a buffered
    * update outstanding would mask the BASE rows but leave the delta rows
    * serving — and the next fold would write those delta rows into the
    * compacted base while clearing the tombstone, permanently resurrecting
    * a deleted id. The same holds for a replacement batch's REMOVALS (ids
    * masked with no replacement rows — a document shrunk below its
    * family's floor): the mask covers base rows only, so a window-resident
    * id would silently survive. Fold first; fail loudly.
    */
  private def requireNoBufferedClashOf(
      s: SparkSession, ep: Option[IndexManifest.Epoch], t: Target, ids: Seq[Long]): Unit =
    if (ids.nonEmpty) Tombstones.deltaFrameOf(s, ep).foreach { d =>
      import s.implicits._
      val clash = d.select(t.idCol).distinct()
        .join(broadcast(ids.toDF(t.idCol)), Seq(t.idCol), "left_semi")
        .collect().map(_.getLong(0))
      require(clash.isEmpty,
        s"${t.what}: ${t.idCol}s ${clash.take(5).mkString(",")} have buffered updates " +
          s"in ${t.anchor}'s open window — run ${t.fold} first")
    }

  /** The RESURRECT guard: an id that was REMOVED — tombstoned with no
    * window-resident replacement rows (a takedown, or an update that
    * shrank the doc below its family's indexability floor) — may not land
    * NEW REPLACEMENT ROWS before a fold retires the tombstone: the mask
    * covers BASE rows only, so the batch's delta rows would serve
    * immediately and the next fold would persist them, silently undoing
    * the takedown — while the insert-only paths refuse the very same ids.
    * Two deliberate scopings: (1) ids tombstoned BY an open update stay
    * window-resident (their replacement rows serve), so re-updating them
    * within the window remains legal; (2) `landing` is the batch's
    * ROW-LANDING id set, not its raw id list — a removed id redelivered
    * with sub-floor content lands no rows, so nothing can resurrect and
    * the batch stays a clean no-op for it, never a poison pill the
    * streaming runner replays forever.
    */
  private def requireNoResurrectOf(
      s: SparkSession, ep: Option[IndexManifest.Epoch], t: Target, landing: Seq[Long]): Unit =
    if (landing.nonEmpty) Tombstones.idSetOf(s, ep).foreach { ts =>
      import s.implicits._
      val removed = Tombstones.deltaFrameOf(s, ep) match {
        case Some(d) =>
          ts.join(d.select(col(t.idCol).as("id")).distinct(), Seq("id"), "left_anti")
        case None => ts
      }
      val clash = removed.withColumnRenamed("id", t.idCol)
        .join(broadcast(landing.toDF(t.idCol)), Seq(t.idCol), "left_semi")
        .collect().map(_.getLong(0))
      require(clash.isEmpty,
        s"${t.what}: ${t.idCol}s ${clash.take(5).mkString(",")} were deleted from " +
          s"${t.anchor} — a buffered update would resurrect the takedown " +
          "(its delta rows serve while the mask covers base rows only); " +
          s"run ${t.fold} before re-using deleted ids")
    }

  /** Land one buffered update batch in ONE commit: the updated ids'
    * tombstone fragment (masking their base rows), the batch's replacement
    * rows, and optionally replacement stored stats — a probe sees all
    * three or none, and a crashed buffer call changes nothing (the same
    * atomicity contract as [[Tombstones.addWithStats]]). `writeBatch`
    * materializes the replacement rows under the directory it is given.
    * `hwm` (the streaming-ingest path) advances the manifest's
    * (stream, batch-id) ingest mark IN the same commit — rows and replay
    * fence land atomically, so an at-least-once redelivery can never
    * observe rows-without-fence or fence-without-rows.
    */
  private def commitUpdateBatch(
      s: SparkSession, indexPath: String, ids: Seq[Long],
      newStats: Option[DataFrame], hwm: Option[(String, Long)])(
      writeBatch: String => Unit): Unit = {
    val e = IndexManifest.next(s, indexPath)
    val batch = s"${Tombstones.deltaDir(indexPath)}/b${e.version}"
    writeBatch(batch)
    val statsDir = newStats.map(Tombstones.writeEpochStats(indexPath, e.version, _))
    val frag = Tombstones.writeFragment(s, indexPath, e.version, ids)
    IndexManifest.commit(s, indexPath,
      e.copy(stats = statsDir.orElse(e.stats),
        tombstones = e.tombstones :+ frag,
        deltas = e.deltas :+ batch,
        ingestHwm = hwm.map(_._2).orElse(e.ingestHwm),
        ingestStream = hwm.map(_._1).orElse(e.ingestStream)))
  }

  /** Land one INSERT-ONLY batch in ONE commit: the batch's new rows as a
    * delta batch plus (optionally) advanced stored stats — no masking
    * tombstone, because the rows are NEW ([[insert]] guards that none of
    * the ids already serve). Rows and stats become visible together or
    * not at all, the base generation never moves (no standing file is
    * touched, so as-of reads stay exact ACROSS appends), and — unlike
    * [[commitUpdateBatch]] — no id list is collected to the driver, so
    * the COMMIT is O(1) in batch size. PROBES, however, pay one broadcast
    * of the open window's distinct id set until the fold
    * ([[Tombstones.maskedOverrideFrame]]), so the fold cadence
    * (`foldEvery`, [[Tombstones.needsCompaction]]) must keep the open
    * window broadcast-sized: land a huge append, fold promptly. `hwm`
    * threads the streaming-ingest fence exactly as in
    * [[commitUpdateBatch]].
    */
  private def commitInsertBatch(
      s: SparkSession, indexPath: String,
      newStats: Option[DataFrame], hwm: Option[(String, Long)])(
      writeBatch: String => Unit): Unit = {
    val e = IndexManifest.next(s, indexPath)
    val batch = s"${Tombstones.deltaDir(indexPath)}/b${e.version}"
    writeBatch(batch)
    val statsDir = newStats.map(Tombstones.writeEpochStats(indexPath, e.version, _))
    IndexManifest.commit(s, indexPath,
      e.copy(stats = statsDir.orElse(e.stats),
        deltas = e.deltas :+ batch,
        ingestHwm = hwm.map(_._2).orElse(e.ingestHwm),
        ingestStream = hwm.map(_._1).orElse(e.ingestStream)))
  }
}
