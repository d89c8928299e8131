package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{ArrayType, BinaryType, FloatType, IntegerType, LongType, StringType, StructField, StructType}

import graft.operators.DedupQueries
import graft.sources.IndexFamily
import Runner.{drain, readFiles}

/** Streaming document ingestion against the persisted dedup index — the
  * production shape for "is this arriving document a near-dup of anything we
  * already hold?".
  *
  * Each micro-batch of documents is MinHash-signed and banded (the exact
  * pipeline `dedup_incremental` uses) inside `foreachBatch`, then equi-joined
  * against the BUCKETED corpus band index (`DedupQueries.writeBandIndex`).
  * Scale shape per trigger: the standing corpus is never re-shuffled — the
  * index side feeds the join straight from its buckets (the plan
  * PartitionBucketSpec pins for the batch path); the only exchange is the
  * (small) arriving batch, and candidates per band key are bounded by that
  * key's corpus frequency. Output: distinct (doc_id, c_id) candidate pairs
  * appended per batch — exact-verification (Jaccard) of survivors is the
  * same downstream step as the batch path and keys only candidate pairs.
  *
  * Exactly-once: the parquet append is at-least-once on micro-batch retry
  * (same caveat as [[EventsStream.runAsofEnriched]]); production keys the
  * write by batchId or uses the epoch-deduplicating V2 sink.
  */
object DocumentsStream {

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  /** Read a parquet directory of (doc_id, text) as a bounded stream. */
  def readDocs(spark: SparkSession, inPath: String): DataFrame =
    readFiles(spark, docSchema, inPath)

  private val assetSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType),
    StructField("payload", BinaryType),
    StructField("format", StringType)))

  /** (doc_id, text, lang): the corpus groups' text columns. */
  private val corpusSchema: StructType =
    StructType(docSchema.fields :+ StructField("lang", StringType))

  /** The columns a group row adds for its vector sibling. */
  private val labelled: Seq[StructField] = Seq(
    StructField("label", IntegerType),
    StructField("embedding", ArrayType(FloatType)))

  /** EXACTLY-ONCE streaming ingest into the winnow index — the
    * document-fingerprint twin of
    * [[SearchStream.runSearchIngest]]/[[EmbeddingsStream.runAnnIngest]]:
    * each micro-batch lands through
    * [[graft.operators.DedupQueries.ingestWinnowBatch]] as ONE atomic
    * manifest commit (re-winnowed rows + masking tombstone + the
    * (checkpoint, batch-id) fence), so at-least-once replays are fenced,
    * a fresh checkpoint refuses loudly, and — because the fence is
    * carried across the winnow compaction's location move — a replay
    * arriving after a fold still skips. Pinned in StreamingSpec.
    */
  def runWinnowIngest(
      spark: SparkSession, inPath: String, table: String,
      checkpoint: String, foldEvery: Int = 0,
      leaseWaitMs: Long = 600000L, leaseTtlMs: Long = 600000L): Unit =
    Runner.ingest(spark, readDocs(spark, inPath), checkpoint,
      Seq(IndexFamily.winnow(spark, table)), foldEvery, leaseWaitMs, leaseTtlMs)

  /** EXACTLY-ONCE streaming ingest into the MinHash band index — the
    * candidate-generation side of near-dup detection under a stream:
    * each micro-batch's signatures land through
    * [[graft.operators.DedupQueries.ingestBandBatch]] as ONE atomic
    * manifest commit (band keys + masking tombstone + the (checkpoint,
    * batch-id) fence), so at-least-once replays are fenced, a fresh
    * checkpoint refuses loudly, and the fence rides the compaction's
    * location move. Pinned in StreamingSpec.
    */
  def runBandIngest(
      spark: SparkSession, inPath: String, table: String,
      checkpoint: String, foldEvery: Int = 0,
      leaseWaitMs: Long = 600000L, leaseTtlMs: Long = 600000L): Unit =
    Runner.ingest(spark, readDocs(spark, inPath), checkpoint,
      Seq(IndexFamily.band(spark, table)), foldEvery, leaseWaitMs, leaseTtlMs)

  /** EXACTLY-ONCE streaming ingest into the prefix (PPJoin) index — the
    * exact-recall family's ingest twin: per-batch representatives'
    * prefix rows (under the index's frozen token order) land through
    * [[graft.operators.DedupQueries.ingestPrefixBatch]] as one atomic
    * commit serving BOTH halves (inverted and forward read the same
    * delta). Pinned in StreamingSpec.
    */
  def runPrefixIngest(
      spark: SparkSession, inPath: String, table: String,
      checkpoint: String, foldEvery: Int = 0,
      leaseWaitMs: Long = 600000L, leaseTtlMs: Long = 600000L): Unit =
    Runner.ingest(spark, readDocs(spark, inPath), checkpoint,
      Seq(IndexFamily.prefix(spark, table)), foldEvery, leaseWaitMs, leaseTtlMs)

  /** EXACTLY-ONCE streaming ingest into the phash index — the media
    * family's ingest twin: arriving binary assets are perceptual-hashed
    * per micro-batch and their band keys land through
    * [[graft.operators.MultimodalQueries.ingestPhashBatch]] as one atomic
    * commit. Pinned in StreamingSpec.
    */
  def runPhashIngest(
      spark: SparkSession, inPath: String, table: String,
      checkpoint: String, foldEvery: Int = 0,
      leaseWaitMs: Long = 600000L, leaseTtlMs: Long = 600000L): Unit =
    Runner.ingest(spark, readFiles(spark, assetSchema, inPath), checkpoint,
      Seq(IndexFamily.phash(spark, table)), foldEvery, leaseWaitMs, leaseTtlMs)

  /** The sibling indexes one corpus ingest group feeds — each optional,
    * so a deployment composes exactly the families it serves. `search` is
    * (table, immutable index path); `band`/`winnow`/`prefix` are catalog
    * tables (their manifests anchor on the table's current location);
    * `ivf` is the VECTOR family's immutable index path — the modality
    * sibling [[runHybridIngest]] feeds from the same (lineage, batch-id)
    * fence, closing the group for
    * [[graft.operators.SearchQueries.hybridTopkFromIndexesConsistent]].
    */
  final case class CorpusIngestTargets(
      search: Option[(String, String)] = None,
      band: Option[String] = None,
      winnow: Option[String] = None,
      prefix: Option[String] = None,
      ivf: Option[String] = None) {
    require(search.isDefined || band.isDefined || winnow.isDefined ||
      prefix.isDefined || ivf.isDefined,
      "CorpusIngestTargets: at least one target family")
  }

  /** MULTI-INDEX streaming ingest group — the way a real pipeline uses
    * the per-family runners: ONE document batch feeds every sibling index
    * (postings + MinHash band + winnow + prefix) inside one
    * `foreachBatch`, each family through its existing fence + lease, in
    * a FIXED commit order (search → band → winnow → prefix — the order
    * below, deterministic so every crash point is a prefix of it).
    *
    * Atomicity composition: there is deliberately NO cross-index
    * transaction — each family lands its (rows + masking tombstone +
    * (checkpoint, batch-id) fence) as its own single manifest commit
    * ([[graft.sources.IndexWrite.replace]]'s fence), because one pointer
    * cannot atomically name four independent manifests. What makes the
    * GROUP exactly-once is that every family fences the same (lineage,
    * batch-id) pair: a crash BETWEEN sibling commits (family k landed,
    * k+1 did not) leaves Spark's checkpoint un-advanced, so the restart
    * REPLAYS the batch — families ≤ k skip on their fence (batchId at
    * the mark), families > k ingest, and the group provably CONVERGES to
    * the same state as an uncrashed drain (crash-injection pinned in
    * StreamingSpec). Replay-after-success is a no-op on all N for the
    * same reason. Divergence is therefore bounded to one batch and only
    * BETWEEN a crash and its restart — the serving side that needs the
    * sibling indexes mutually consistent mid-ingest reads them at the
    * min common fence instead
    * ([[graft.operators.SearchQueries.hybridTopkFromIndexesConsistent]]).
    *
    * Scale shape per trigger: the batch is read ONCE (persisted) and
    * each family derives its rows from it (postings aggregation, MinHash
    * banding, winnow selection, prefix tokens) — four small jobs over
    * one micro-batch, never a re-read of the input; the standing indexes
    * are untouched between folds. `foldEvery` applies per family (each
    * window advances independently — a fold in one family never blocks
    * the others' commits).
    */
  def runCorpusIngest(
      spark: SparkSession, inPath: String, targets: CorpusIngestTargets,
      checkpoint: String, foldEvery: Int = 0,
      leaseWaitMs: Long = 600000L, leaseTtlMs: Long = 600000L): Unit = {
    require(targets.ivf.isEmpty,
      "runCorpusIngest reads a text-only corpus (doc_id, text, lang) — a " +
        "vector-family target needs the (doc, embedding) schema of " +
        "runHybridIngest, which fences the IVF sibling under the same lineage")
    Runner.ingest(spark, readFiles(spark, corpusSchema, inPath), checkpoint,
      IndexFamily.corpus(spark, targets, dir = None), foldEvery,
      leaseWaitMs, leaseTtlMs)
  }

  /** MULTI-MODAL streaming ingest group — [[runCorpusIngest]] with the
    * VECTOR family as a first-class sibling: one logical corpus batch
    * carries each document's text AND its embedding
    * (doc_id, text, lang, label, embedding float[]), the lexical families
    * ingest the text projection and the IVF index ingests the vector
    * projection (doc_id serves as vec_id — one corpus, one id space),
    * every commit fenced by the SAME (checkpoint, batch-id) pair. Commit
    * order extends the lexical group's with ivf LAST
    * (search → band → winnow → prefix → ivf), so a crash anywhere —
    * including BETWEEN the modality siblings — leaves a deterministic
    * prefix that the checkpoint replay provably converges (the
    * [[runCorpusIngest]] argument verbatim: families at the mark skip on
    * their fence, families behind it ingest; crash-injection pinned
    * across the modality boundary in StreamingSpec).
    *
    * This is what makes
    * [[graft.operators.SearchQueries.hybridTopkFromIndexesConsistent]]
    * deployable: its common-lineage precondition (both manifests fenced
    * by one checkpoint) is now PRODUCED by a shipped runner instead of
    * hand-staged ingest calls — mid-drain, the consistent read serves
    * the group's own output at the min common fence with no divergence
    * window beyond the one batch in flight.
    *
    * Scale shape per trigger: unchanged from [[runCorpusIngest]] for the
    * lexical families (one persisted batch read, small per-family
    * derivations); the vector arm re-assigns only the BATCH's vectors to
    * the index's frozen seed geometry (a broadcast-seed map job) and
    * lands them as one delta-batch commit — the standing cells are
    * untouched between folds. `dir` is the corpus root the IVF family's
    * quantizer geometry derives from (the
    * [[graft.operators.SimilarityQueries.ingestIvfBatch]] contract).
    */
  def runHybridIngest(
      spark: SparkSession, inPath: String, dir: String,
      targets: CorpusIngestTargets, checkpoint: String, foldEvery: Int = 0,
      leaseWaitMs: Long = 600000L, leaseTtlMs: Long = 600000L): Unit =
    Runner.ingest(spark,
      readFiles(spark, StructType(corpusSchema.fields ++ labelled), inPath)
        .withColumn("vec_id", col("doc_id")),
      checkpoint, IndexFamily.corpus(spark, targets, Some(dir)), foldEvery,
      leaseWaitMs, leaseTtlMs)

  /** The sibling indexes one MEDIA-ASSET ingest group feeds — the
    * non-text modality's [[CorpusIngestTargets]]: `phash` is the
    * perceptual-hash catalog table (location-anchored), `ivf` the
    * embedding index path (an encoder's vectors for the same assets).
    */
  final case class AssetIngestTargets(
      phash: Option[String] = None,
      ivf: Option[String] = None) {
    require(phash.isDefined || ivf.isDefined,
      "AssetIngestTargets: at least one target family")
  }

  /** MULTI-INDEX streaming ingest group for MEDIA ASSETS — the
    * [[runHybridIngest]] symmetry for the non-text modality: one asset
    * batch carries the binary payload AND its encoder embedding
    * (asset_id, payload, format, label, embedding float[]); the phash
    * family ingests the payload projection (perceptual-hash band keys),
    * the IVF family the vector projection (asset_id serves as vec_id —
    * one asset corpus, one id space), every commit fenced by the SAME
    * (checkpoint, batch-id) pair in fixed order (phash → ivf). The
    * crash-between-siblings convergence argument is [[runCorpusIngest]]'s
    * verbatim, pinned across this modality boundary in StreamingSpec —
    * with this runner every persisted family the library ships composes
    * into a fenced group (text: search/band/winnow/prefix/ivf; media:
    * phash/ivf). Scale shape per trigger: payloads hash map-only and
    * never shuffle; the vector arm re-assigns only the batch against the
    * broadcast seed geometry.
    */
  def runAssetIngest(
      spark: SparkSession, inPath: String, dir: String,
      targets: AssetIngestTargets, checkpoint: String, foldEvery: Int = 0,
      leaseWaitMs: Long = 600000L, leaseTtlMs: Long = 600000L): Unit =
    Runner.ingest(spark,
      readFiles(spark, StructType(assetSchema.fields ++ labelled), inPath)
        .withColumn("vec_id", col("asset_id")),
      checkpoint, IndexFamily.assets(spark, targets, Some(dir)), foldEvery,
      leaseWaitMs, leaseTtlMs)

  /** Drain `inPath` with Trigger.AvailableNow, joining every micro-batch
    * against `indexTable` (a [[DedupQueries.writeBandIndex]] bucketed
    * table); candidate pairs land under `outPath`.
    */
  def runIncrementalDedup(
      spark: SparkSession, inPath: String, indexTable: String,
      outPath: String, checkpoint: String): Unit =
    drain(readDocs(spark, inPath), checkpoint) { (batch, _) =>
      val bands = DedupQueries.bandKeysOf(DedupQueries.signaturesOf(batch))
      // the VISIBLE index view (tombstones masked, ingested batches
      // included) — a mid-stream takedown stops matching and a
      // mid-stream ingest starts matching from the next micro-batch on
      val idx = DedupQueries.bandIndexFrame(spark, indexTable)
        .select(col("doc_id").as("c_id"), col("bk"))
      bands.join(idx, "bk")
        .select("doc_id", "c_id").distinct()
        .write.mode("append").parquet(outPath)
    }

  /** Streaming count-min ingest: sketch each micro-batch's documents and
    * append the per-batch cells; the standing sketch is the CELL-WISE SUM
    * of everything appended — because CMS cells are sums, per-batch
    * sketches merge into exactly the full-corpus sketch (pinned in
    * StreamingSpec). This is the sketch lifecycle at 100 TB: shards/
    * triggers sketch locally (256 cells each), one tiny reduce merges.
    */
  def runCmsIngest(
      spark: SparkSession, inPath: String, outPath: String,
      checkpoint: String): Unit =
    drain(readDocs(spark, inPath), checkpoint) { (batch, _) =>
      graft.operators.TextQueries.cmsSketchOf(batch)
        .write.mode("append").parquet(outPath)
    }

  /** Merge appended per-batch sketch cells into the standing sketch. */
  def mergedSketch(spark: SparkSession, outPath: String): DataFrame =
    spark.read.parquet(outPath)
      .groupBy("i", "bucket").agg(sum(col("cnt")).as("cnt"))

  /** Persist the unigram-LM training artifact (token counts + 1-row total)
    * — trained once on the standing corpus, read by every monitor trigger.
    */
  def writeUnigramModel(spark: SparkSession, dir: String, path: String): Unit = {
    val (counts, total) =
      graft.operators.TextQueries.unigramCounts(graft.Tables.documents(spark, dir))
    counts.write.mode("overwrite").parquet(s"$path/counts")
    total.write.mode("overwrite").parquet(s"$path/total")
  }

  /** Streaming surprisal monitor — the serving shape of the model-based
    * quality filter: arriving documents score against the PERSISTED
    * unigram model per trigger (scores are per-doc once the model is
    * fixed, so any micro-batching equals the one-shot scoring — pinned in
    * StreamingSpec against the registered text_surprisal itself when the
    * stream replays the training corpus). Unseen tokens take tf = 1, max
    * surprisal; a real deployment re-trains the model on a cadence and
    * swaps the path, never the query.
    */
  def runSurprisalMonitor(
      spark: SparkSession, modelPath: String, inPath: String, outPath: String,
      checkpoint: String): Unit = {
    val counts = spark.read.parquet(s"$modelPath/counts")
    val total = spark.read.parquet(s"$modelPath/total")
    drain(readDocs(spark, inPath), checkpoint) { (batch, _) =>
      graft.operators.TextQueries.surprisalOf(batch, counts, total)
        .write.mode("append").parquet(outPath)
    }
  }

  /** Streaming weighted sampler — priority sampling's MERGEABILITY made
    * operational. Priorities are a pure function of (doc_id, text)
    * ([[graft.operators.TextQueries.priorityOf]]), so the global top-k by
    * priority equals the top-k of the per-batch top-k's — each trigger
    * appends only its k winners (k rows per batch, whatever the batch
    * size), and [[mergedPrioritySample]] re-ranks the k·B survivors at
    * read time. Stream == one-shot batch EXACTLY, for ANY micro-batch
    * partitioning of the corpus — the property a resumable 100 TB ingest
    * needs from its sampler (no state store, no re-scan, just an append
    * of winners; the HT estimator τ is computed on the merged sample the
    * same way the batch query does it).
    */
  def runPrioritySample(
      spark: SparkSession, inPath: String, outPath: String,
      checkpoint: String): Unit = {
    val k = graft.operators.TextQueries.PRI_TOP_K
    drain(readDocs(spark, inPath), checkpoint) { (batch, _) =>
      graft.operators.TextQueries.priorityOf(batch)
        .orderBy(col("priority").desc, col("doc_id")).limit(k)
        .select("doc_id", "n_tokens", "priority")
        .write.mode("append").parquet(outPath)
    }
  }

  /** The standing sample: top-k by priority over the per-batch winners. */
  def mergedPrioritySample(spark: SparkSession, outPath: String): DataFrame =
    spark.read.parquet(outPath)
      .orderBy(col("priority").desc, col("doc_id"))
      .limit(graft.operators.TextQueries.PRI_TOP_K)

  /** Persist the boilerplate-span artifact (span hashes shared by >= 2
    * docs) — trained once on the standing corpus, read by every scrubbing
    * trigger (the writeUnigramModel lifecycle).
    */
  def writeBoilerSpans(spark: SparkSession, dir: String, path: String): Unit =
    graft.operators.TextQueries.boilerSpansOf(graft.Tables.documents(spark, dir))
      .write.mode("overwrite").parquet(path)

  /** Streaming boilerplate scrubber — the serving twin of
    * `pipeline_strip_spans`: arriving documents are rewritten against the
    * PERSISTED span set per trigger. Scrubbing is a per-doc pure function
    * once the boiler set is frozen (each doc's spans either match the set
    * or don't — no cross-doc state in the serving pass), so any
    * micro-batching equals the one-shot rewrite — pinned in StreamingSpec
    * against the registered query when the stream replays the training
    * corpus. A real deployment re-censuses the span set on a cadence and
    * swaps the path, never the query.
    */
  def runStripSpans(
      spark: SparkSession, modelPath: String, inPath: String, outPath: String,
      checkpoint: String): Unit = {
    val boiler = spark.read.parquet(modelPath)
    drain(readDocs(spark, inPath), checkpoint) { (batch, _) =>
      graft.operators.TextQueries.stripSpansAgainst(batch, boiler)
        .write.mode("append").parquet(outPath)
    }
  }

  /** Streaming winnow-fingerprint probe against the persisted corpus
    * index ([[DedupQueries.writeWinnowIndex]]'s fp-bucketed table): each
    * arriving micro-batch is winnowed (the per-document selection of
    * `text_winnow`) and its fingerprints equi-join the standing corpus
    * set via [[DedupQueries.winnowIncrementalPairs]] — the standing
    * fingerprints feed the join from their buckets, the batch is the only
    * exchange, and the shared-run-length guarantee is the batch path's
    * verbatim (selection is per-document). Drain equals the one-shot
    * `dedup_winnow_incremental` result — pinned in StreamingSpec.
    */
  def runWinnowProbe(
      spark: SparkSession, inPath: String, indexTable: String,
      outPath: String, checkpoint: String): Unit =
    drain(readDocs(spark, inPath), checkpoint) { (batch, _) =>
      val bFps = graft.operators.TextQueries.winnowSelected(batch)
        .select(col("doc_id"), col("fp")).distinct()
      // winnowIndexFrame, not the raw table: a takedown landing
      // mid-stream stops matching from the NEXT micro-batch on (the
      // probe-time df cap re-derives over the survivors with it)
      DedupQueries.winnowIncrementalPairs(
          bFps, DedupQueries.winnowIndexFrame(spark, indexTable))
        .write.mode("append").parquet(outPath)
    }

  /** Streaming exact-recall near-dup probe — the PPJoin twin of
    * [[runWinnowProbe]]: each arriving micro-batch's documents probe the
    * persisted prefix index ([[DedupQueries.writePrefixIndex]]'s
    * inverted + forward pair) through
    * [[DedupQueries.prefixIncrementalPairs]] — batch prefixes under the
    * index's frozen token order, candidates from the x buckets, exact
    * verification through the forward store. Batch reps collapse WITHIN a
    * trigger only (two identical docs in different micro-batches each
    * emit their pairs — per-document independence otherwise), so the
    * drain over distinct-text batches equals the one-shot
    * `dedup_prefix_incremental` (pinned in StreamingSpec; tombstones laid
    * down mid-stream mask from the next trigger, like every probe).
    */
  def runPrefixProbe(
      spark: SparkSession, inPath: String, indexTable: String,
      outPath: String, checkpoint: String): Unit =
    drain(readDocs(spark, inPath), checkpoint) { (batch, _) =>
      val (idx, fwd) = DedupQueries.prefixIndexFrames(spark, indexTable)
      DedupQueries.prefixIncrementalPairs(batch, idx, fwd)
        .write.mode("append").parquet(outPath)
    }

  /** Streaming re-encode detection: arriving binary assets are
    * perceptual-hashed per micro-batch (the mapPartitions signature of
    * `multimodal_phash`) and their band keys probe the standing
    * [[graft.operators.MultimodalQueries.writePhashIndex]] bucketed
    * table — the media twin of [[runWinnowProbe]]. Per-asset independence
    * makes the drain equal the one-shot `multimodal_phash_incremental`
    * (pinned in StreamingSpec).
    */
  def runPhashProbe(
      spark: SparkSession, inPath: String, indexTable: String,
      outPath: String, checkpoint: String): Unit =
    drain(readFiles(spark, assetSchema, inPath), checkpoint) { (batch, _) =>
      val keys = graft.operators.MultimodalQueries.phashBandKeys(
        graft.operators.Multimodal.perceptualHash(batch).toDF())
      // tombstone-filtered index view: a mid-stream takedown stops
      // matching from the next micro-batch on
      graft.operators.MultimodalQueries.phashProbePairs(
          keys, graft.operators.MultimodalQueries.phashIndexFrame(spark, indexTable))
        .write.mode("append").parquet(outPath)
    }

  /** Continuous quality gating: the Gopher rule battery
    * ([[graft.operators.TextQueries.gopherRulesOf]] — the exact projection
    * the registered `text_gopher_rules` entry runs) applied to documents as
    * they arrive. The rules are stateless map-only expressions, so this is
    * a TRUE streaming query (no foreachBatch): the projection rides the
    * file-sink's transaction log and is therefore exactly-once per input
    * file — stronger than the at-least-once foreachBatch twins — and any
    * micro-batching trivially equals the one-shot batch run (pinned in
    * StreamingSpec).
    */
  def runGopherAudit(
      spark: SparkSession, inPath: String, outPath: String,
      checkpoint: String): Unit =
    graft.operators.TextQueries.gopherRulesOf(readDocs(spark, inPath))
      .writeStream
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** Streaming linear-classifier monitor — the supervised serving twin of
    * [[runSurprisalMonitor]]: arriving documents score against the
    * PERSISTED perceptron weight grid ([[graft.operators.TextQueries
    * .writeLinearModel]]) per trigger. The model is collected ONCE at
    * start (control-plane: n_labels × 65 longs) and baked into every
    * micro-batch's broadcast scoring join, so per-doc predictions are
    * micro-batching-invariant — pinned equal to the one-shot serving pass
    * in StreamingSpec. A real deployment re-trains on a cadence and swaps
    * the model path, never the query.
    */
  def runLinearMonitor(
      spark: SparkSession, modelPath: String, inPath: String, outPath: String,
      checkpoint: String): Unit = {
    val (labels, w) = graft.operators.TextQueries.readLinearModel(spark, modelPath)
    drain(readDocs(spark, inPath), checkpoint) { (batch, _) =>
      graft.operators.TextQueries.linearScore(spark, batch, labels, w)
        .write.mode("append").parquet(outPath)
    }
  }
}
