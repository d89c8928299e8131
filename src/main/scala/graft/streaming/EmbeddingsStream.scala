package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, LongType, StructField, StructType}

import graft.functions.VectorOps
import graft.operators.SimilarityQueries
import graft.sources.IndexFamily
import Runner.{drain, readFiles}

/** Streaming ANN serving — arriving query vectors answered from the
  * PERSISTED IVF index per micro-batch.
  *
  * Each trigger normalizes its batch of query vectors and delegates to
  * [[SimilarityQueries.ivfProbeIndex]]: the probed-cell list partition-prunes
  * the index scan per batch, so a trigger's IO is the handful of cells its
  * queries hit — the index itself is never re-shuffled or re-encoded.
  * Per-query independence (a query's top-k depends only on its own probes +
  * the static index) makes micro-batched serving EXACTLY equal to one-shot
  * batch probing, which StreamingSpec pins.
  *
  * Exactly-once: the parquet append is at-least-once on retry (same caveat
  * as [[EventsStream.runAsofEnriched]]); production keys by batchId or uses
  * the epoch-deduplicating V2 sink.
  */
object EmbeddingsStream {

  val vecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** Read a parquet directory of embeddings rows as a bounded stream. */
  def readVectors(spark: SparkSession, inPath: String): DataFrame =
    readFiles(spark, vecSchema, inPath)

  /** A batch of vectors as (vec_id, v: double[], nrm), the shape every
    * probe and verdict takes.
    */
  private def queriesOf(batch: DataFrame): DataFrame =
    batch
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("nrm", expr(s"sqrt(${VectorOps.dotExpr("v", "v")})"))

  /** Drain `inPath` with Trigger.AvailableNow, probing `indexPath` for each
    * micro-batch's query vectors; (q_id, rank, cand_id, cos) rows land
    * under `outPath`.
    */
  def runAnnProbe(
      spark: SparkSession, dir: String, inPath: String, indexPath: String,
      outPath: String, checkpoint: String): Unit =
    drain(readVectors(spark, inPath), checkpoint) { (batch, _) =>
      SimilarityQueries.ivfProbeIndex(spark, dir, indexPath, queriesOf(batch))
        .write.mode("append").parquet(outPath)
    }

  /** EXACTLY-ONCE streaming index INGEST — the IVF twin of
    * [[SearchStream.runSearchIngest]]: arriving vectors land in the
    * persisted index per micro-batch through
    * [[SimilarityQueries.ingestIvfBatch]] (the LSM delta route — one
    * atomic manifest commit per batch carries the cell-assigned rows, the
    * masking tombstone, and the batch-id high-water mark, so the
    * at-least-once foreachBatch replay is a no-op; the mark rides through
    * compaction, so even a post-fold replay cannot re-insert). After the
    * drain, probes rank every ingested vector exactly as a full rebuild
    * would (pinned in StreamingSpec). Per trigger the work is one
    * seed-assignment of the batch; the standing index is never rewritten
    * between folds. `foldEvery` > 0 closes the LSM loop exactly as in
    * [[SearchStream.runSearchIngest]] (fold via
    * [[SimilarityQueries.compactIvfIndex]] when the window reaches that
    * many batches; the replay fence rides through).
    */
  def runAnnIngest(
      spark: SparkSession, dir: String, inPath: String, indexPath: String,
      checkpoint: String, foldEvery: Int = 0,
      leaseWaitMs: Long = 600000L, leaseTtlMs: Long = 600000L): Unit =
    Runner.ingest(spark, readVectors(spark, inPath), checkpoint,
      Seq(IndexFamily.ivf(spark, indexPath, Some(dir))), foldEvery,
      leaseWaitMs, leaseTtlMs)

  /** EXACTLY-ONCE streaming ingest into the persisted k-NN graph — the
    * last index family's twin of [[runAnnIngest]]: each micro-batch's
    * vectors insert through
    * [[graft.operators.SimilarityQueries.ingestGraphBatch]] (touched-cell
    * top-3 recompute, new-node rows + changed standing nodes' replacement
    * rows + the fence in ONE commit; a replay of a committed batch id
    * no-ops, a foreign lineage refuses loudly). `foldEvery` composes the
    * debt policy inline: fold once the open window reaches N batches.
    * Pinned in StreamingSpec.
    */
  def runGraphIngest(
      spark: SparkSession, dir: String, inPath: String, graphPath: String,
      checkpoint: String, foldEvery: Int = 0,
      leaseWaitMs: Long = 600000L, leaseTtlMs: Long = 600000L): Unit =
    Runner.ingest(spark, readVectors(spark, inPath), checkpoint,
      Seq(IndexFamily.graph(spark, graphPath, dir)), foldEvery,
      leaseWaitMs, leaseTtlMs)

  /** Streaming cross-modal serving — arriving TEXT-query vectors answered
    * with ranked ASSETS from the persisted IVF index: each micro-batch
    * delegates to the same probe + metadata-enrich composition as the
    * batch `multimodal_crossmodal_topk` serving path
    * ([[graft.operators.MultimodalQueries.crossmodalEnrich]] — In-list
    * metadata point lookups, payloads never shuffle). Per-query
    * independence again makes the drain equal one-shot batch serving
    * (pinned in StreamingSpec).
    */
  def runCrossmodalProbe(
      spark: SparkSession, dir: String, inPath: String, indexPath: String,
      outPath: String, checkpoint: String): Unit =
    drain(readVectors(spark, inPath), checkpoint) { (batch, _) =>
      graft.operators.MultimodalQueries.crossmodalEnrich(spark, dir,
          SimilarityQueries.ivfProbeIndex(spark, dir, indexPath, queriesOf(batch)))
        .write.mode("append").parquet(outPath)
    }

  /** Streaming graph-ANN serving — the beam-walk twin of [[runAnnProbe]]:
    * each micro-batch's query vectors are answered by
    * [[SimilarityQueries.graphBeamFromIndex]] over a PERSISTED k-NN graph
    * (the trained undirected graph from
    * [[SimilarityQueries.writeRefinedKnnGraph]], or the seed graph — the
    * serving path is layout-agnostic). Per trigger, every hop reads only
    * the beam's bucket partitions and every embedding fetch is a pushed
    * In-list; per-query independence again makes the multi-batch drain
    * equal one-shot batch serving (pinned in StreamingSpec).
    */
  def runGraphBeamProbe(
      spark: SparkSession, dir: String, inPath: String, graphPath: String,
      outPath: String, checkpoint: String): Unit =
    drain(readVectors(spark, inPath), checkpoint) { (batch, _) =>
      SimilarityQueries.graphBeamFromIndex(spark, dir, graphPath, queriesOf(batch))
        .write.mode("append").parquet(outPath)
    }

  /** Streaming semantic dedup — the embedding twin of
    * [[DocumentsStream.runIncrementalDedup]]: each micro-batch's arriving
    * vectors probe the PERSISTED IVF index and get a verdict ('near_dup'
    * with the best-matching corpus vector if any probed neighbor clears
    * `tau`, else 'keep'). Per-trigger IO is the probed cells only; the
    * corpus is never re-shuffled or re-paired with itself. Per-query
    * independence makes the multi-batch drain equal one-shot batch
    * probing (pinned in StreamingSpec).
    */
  def runSemanticDedup(
      spark: SparkSession, dir: String, inPath: String, indexPath: String,
      outPath: String, checkpoint: String, tau: Double): Unit =
    drain(readVectors(spark, inPath), checkpoint) { (batch, _) =>
      val queries = queriesOf(batch)
      semanticVerdicts(
        SimilarityQueries.ivfProbeIndex(spark, dir, indexPath, queries),
        queries.select(col("vec_id").as("q_id")), tau)
        .write.mode("append").parquet(outPath)
    }

  /** Streaming semantic decontamination — arriving TRAINING vectors are
    * scored against the broadcast eval set per micro-batch
    * ([[SimilarityQueries.decontamVerdicts]], the registered
    * `pipeline_decontaminate_semantic` scoring): each trigger appends its
    * vectors' (train_vec_id, eval_vec_id, max_cos, flagged) verdicts.
    * Per-vector independence (a verdict depends only on the vector and
    * the static eval set) makes the multi-batch drain equal one-shot
    * batch scoring row-for-row (pinned in StreamingSpec); the global
    * top-100 review queue is a rank over the drained verdicts.
    */
  def runSemanticDecontam(
      spark: SparkSession, dir: String, inPath: String,
      outPath: String, checkpoint: String): Unit = {
    val eval = SimilarityQueries.decontamEvalSet(spark, dir)
    drain(readVectors(spark, inPath), checkpoint) { (batch, _) =>
      SimilarityQueries.decontamVerdicts(queriesOf(batch), eval)
        .write.mode("append").parquet(outPath)
    }
  }

  /** Fold probe results (q_id, rank, cand_id, cos) into per-query verdicts;
    * `allQ` carries every probed q_id so no-neighbor queries still verdict.
    */
  def semanticVerdicts(probed: DataFrame, allQ: DataFrame, tau: Double): DataFrame = {
    val best = probed.filter(col("cos") >= tau)
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("q_id")
          .orderBy(col("cos").desc, col("cand_id"))))
      .filter(col("rn") === 1)
      .select(col("q_id"), col("cand_id").as("match_id"), col("cos").as("match_cos"))
    allQ.join(best, Seq("q_id"), "left")
      .select(col("q_id"),
        when(col("match_id").isNotNull, "near_dup").otherwise("keep").as("verdict"),
        col("match_id"), col("match_cos"))
  }
}
