package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.sources.{IndexFamily, Tombstones, WriterLease}

/** The bounded drain every `foreachBatch` runner of this package runs on,
  * and the one ingest arm every exactly-once index runner lands its
  * micro-batches through.
  */
private[streaming] object Runner {

  /** Read a parquet directory as a bounded stream of one file per
    * micro-batch — several micro-batches, not one gulp.
    */
  def readFiles(spark: SparkSession, schema: StructType, inPath: String): DataFrame =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(inPath)

  /** Drain `source` once with Trigger.AvailableNow, handing every
    * micro-batch and its id to `perBatch`; returns when the source is
    * exhausted. `checkpoint` is the stream's lineage: a restart on it
    * replays the uncommitted batch (foreachBatch is at-least-once).
    */
  def drain(source: DataFrame, checkpoint: String)(perBatch: (DataFrame, Long) => Unit): Unit =
    source.writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) => perBatch(batch, batchId) }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** The exactly-once ingest runner: drain `source` and land every
    * non-empty micro-batch in each of `families`, in order, each through
    * [[ingestArm]] under the same (checkpoint, batch-id) fence. Empty
    * batches are skipped before any lease is claimed. When several
    * siblings share the batch it is read once into the cache, so every
    * sibling derives its rows from that one read.
    */
  def ingest(
      spark: SparkSession, source: DataFrame, checkpoint: String,
      families: Seq[IndexFamily], foldEvery: Int, leaseWaitMs: Long,
      leaseTtlMs: Long): Unit =
    drain(source, checkpoint) { (batch, batchId) =>
      if (!batch.isEmpty) {
        val shared = families.size > 1
        val rows = if (shared) batch.persist() else batch
        try families.foreach(
          ingestArm(spark, _, rows, batchId, checkpoint, foldEvery, leaseWaitMs, leaseTtlMs))
        finally if (shared) rows.unpersist(false)
      }
    }

  /** One micro-batch into one family under a VERIFIED writer lease on the
    * family's current anchor: resolve → acquire → re-resolve, retrying if
    * a concurrent fold moved a location-anchored family mid-claim (plain
    * re-resolution leaves a window where two claimants hold different
    * generations of the anchor and exclusion voids); a fixed anchor
    * resolves once. The holder is the stream's checkpoint, its lineage
    * identity; `leaseWaitMs` < 0 opts the lease out. Under the lease the
    * family's relations refresh, the batch lands, and the window folds
    * inline once [[Tombstones.windowReached]] holds on the verified anchor
    * (the fence rides the fold, so replays of folded batches still skip).
    */
  private def ingestArm(
      spark: SparkSession, family: IndexFamily, rows: DataFrame, batchId: Long,
      checkpoint: String, foldEvery: Int, leaseWaitMs: Long, leaseTtlMs: Long): Unit =
    WriterLease.withResolvedIngestLease(spark, family.anchor,
        checkpoint, leaseWaitMs, leaseTtlMs) { anchor =>
      refreshFamilyTables(spark, rows, family.tables)
      family.ingest(rows, batchId, checkpoint)
      if (Tombstones.windowReached(spark, anchor, foldEvery)) family.compact()
    }

  /** Invalidate the session-local cached relations of a family's catalog
    * tables before the arm reads them. `foreachBatch` executes on the
    * streaming query's CLONED session, whose table-relation cache is
    * separate from the main session's: a fold by a CONCURRENT process
    * ([[graft.sources.Lifecycle.maintain]] cron-looping on the main
    * session) swaps the table's location and refreshes only its own
    * cache, so the stream clone keeps planning over the PRE-FOLD
    * location — silently stale reads while the old files last,
    * FILE_NOT_EXIST once vacuum reclaims them (the group-drain +
    * concurrent-maintenance pin reproduced both). Refreshing under the
    * verified lease makes every arm plan over the live location; on the
    * uncontended path it costs one metadata invalidation per table.
    */
  private def refreshFamilyTables(
      outer: SparkSession, batchDf: DataFrame, tables: Seq[String]): Unit =
    Seq(outer, batchDf.sparkSession).distinct.foreach { ss =>
      tables.foreach(t => ss.catalog.refreshTable(t))
    }
}
