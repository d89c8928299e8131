package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.operators.SearchQueries
import graft.sources.IndexFamily
import Runner.{drain, readFiles}

/** Streaming lexical-search serving — arriving keyword queries answered from
  * the PERSISTED inverted index per micro-batch (the BM25 twin of
  * [[EmbeddingsStream.runAnnProbe]]).
  *
  * Each trigger's batch of (q_id, term) rows delegates to
  * [[SearchQueries.bm25ProbeIndex]]: the batch's term list In-filters the
  * bucketed postings scan, df rides the term bucketing, and the raw corpus
  * text is never read — a trigger's IO is the probed terms' postings only.
  * Per-query independence (df/stats come from the index, not the batch)
  * makes micro-batched serving EXACTLY equal to one-shot batch probing,
  * which StreamingSpec pins.
  *
  * Contract: a query's terms must arrive within ONE micro-batch (here one
  * file = one query via maxFilesPerTrigger=1); terms split across triggers
  * would score as two partial queries. Exactly-once: the parquet append is
  * at-least-once on retry — same caveat and same remedies as the ANN probe
  * (batchId keying or the epoch-deduplicating V2 sink).
  */
object SearchStream {

  val querySchema: StructType = StructType(Seq(
    StructField("q_id", LongType),
    StructField("term", StringType)))

  /** Read a parquet directory of (q_id, term) rows as a bounded stream. */
  def readQueries(spark: SparkSession, inPath: String): DataFrame =
    readFiles(spark, querySchema, inPath)

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType)))

  /** EXACTLY-ONCE streaming index INGEST — arriving documents land in the
    * persisted inverted index per micro-batch through
    * [[SearchQueries.ingestSearchBatch]] (the LSM delta route: one atomic
    * manifest commit per batch carries the rows, the masking tombstone,
    * the stats advance, AND the batch-id high-water mark, so the
    * at-least-once foreachBatch replay is a no-op — unlike the probe
    * twins' documented append caveat, this path needs no external dedup).
    * After the drain, probes score every ingested document exactly as a
    * full rebuild would (pinned in StreamingSpec: bootstrap + streamed
    * remainder == one-shot build, and a forced replay changes nothing).
    * At fleet scale each trigger's work is one postings aggregation over
    * the batch plus control-plane commits; the standing index is never
    * rewritten between folds. `foldEvery` > 0 closes the LSM loop: when
    * the open window reaches that many delta batches, the drain folds
    * them inline ([[SearchQueries.compactSearchIndex]] — ONE physical
    * rewrite retires the window, bounding every probe's union-arm count;
    * the replay fence rides through the fold, so auto-folding changes no
    * exactly-once property). 0 = never fold (an external cadence, e.g.
    * [[graft.sources.Tombstones.needsCompaction]], owns it).
    */
  def runSearchIngest(
      spark: SparkSession, inPath: String, table: String, indexPath: String,
      checkpoint: String, foldEvery: Int = 0,
      leaseWaitMs: Long = 600000L, leaseTtlMs: Long = 600000L): Unit =
    Runner.ingest(spark, readFiles(spark, docSchema, inPath), checkpoint,
      Seq(IndexFamily.search(spark, table, indexPath)), foldEvery,
      leaseWaitMs, leaseTtlMs)

  /** Drain `inPath` with Trigger.AvailableNow, probing the persisted
    * inverted index for each micro-batch's queries; (q_id, rank, doc_id,
    * score) rows land under `outPath`.
    */
  def runBm25Probe(
      spark: SparkSession, inPath: String, table: String, indexPath: String,
      outPath: String, checkpoint: String): Unit =
    drain(readQueries(spark, inPath), checkpoint) { (batch, _) =>
      SearchQueries.bm25ProbeIndex(spark, table, indexPath, batch)
        .write.mode("append").parquet(outPath)
    }
}
