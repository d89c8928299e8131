package graft.operators

import graft.{GQuery, Tables}
import graft.sources.IndexWrite
import org.apache.spark.sql.functions._

/** Multimodal-column queries: binary payloads with metadata extraction.
  * `multimodal_features` is pure column algebra (oracle-able); the
  * mapPartitions decode path lives in [[Multimodal]] and registers as a
  * rows-only query (a Scala codec stub has no SQL equivalent by design).
  */
object MultimodalQueries {

  val defs: Seq[GQuery] = Seq(

    // Payload metadata via built-in binary functions — stays in codegen.
    GQuery(
      "multimodal_features",
      (s, dir) =>
        Tables.documents(s, dir)
          .select(
            col("doc_id").as("asset_id"),
            col("text").cast("binary").as("payload"))
          .select(
            col("asset_id"),
            length(col("payload")).cast("long").as("n_bytes"),
            sha2(col("payload"), 256).as("sha256_hex"),
            lower(hex(substring(col("payload"), 1, 8))).as("head_hex"))
          .orderBy("asset_id"),
      Some("""SELECT doc_id AS asset_id,
             |CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             |sha256(text) AS sha256_hex,
             |lower(hex(encode(substring(text, 1, 8)))) AS head_hex
             |FROM documents ORDER BY asset_id""".stripMargin)
    ),

    // Exact dedup on the BINARY payload (the asset-level twin of
    // dedup_exact): group by content digest computed over bytes, keep the
    // lowest asset id, report group size and payload size. At 100 TB this
    // is the first pass of any media-corpus ingest — one digest per asset
    // at the scan, one shuffle of (digest, id, size) triples, never the
    // payloads themselves.
    GQuery(
      "multimodal_dedup",
      (s, dir) =>
        Tables.documents(s, dir)
          .select(col("doc_id").as("asset_id"), col("text").cast("binary").as("payload"))
          .groupBy(sha2(col("payload"), 256).as("payload_sha256"))
          .agg(min(col("asset_id")).as("keep_asset_id"),
            count(lit(1)).as("dup_count"),
            max(length(col("payload"))).cast("long").as("n_bytes"))
          .orderBy("payload_sha256"),
      Some("""SELECT sha256(text) AS payload_sha256, MIN(doc_id) AS keep_asset_id,
             |CAST(COUNT(*) AS BIGINT) AS dup_count,
             |CAST(MAX(octet_length(encode(text))) AS BIGINT) AS n_bytes
             |FROM documents GROUP BY sha256(text)
             |ORDER BY payload_sha256""".stripMargin)
    ),

    // WebDataset-style shard packing: assign assets to fixed-byte-budget
    // shards by a running byte sum — the layout step that turns a media
    // corpus into sequentially-readable training shards. Shard id =
    // cum_bytes div budget within each source (per-source windows shard by
    // the key; a global pack would use per-partition packing + a shard-id
    // offset pass, the pipeline_pack_batches discipline). The report per
    // (source, shard) carries asset count, byte total, and the id range —
    // everything a loader needs to address a shard. Payloads never
    // shuffle: only (id, n_bytes) pairs pass through the window.
    GQuery(
      "multimodal_pack_shards",
      (s, dir) => {
        val budget = 4096L // bytes per shard at test scale
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("source").orderBy("asset_id")
        Tables.documents(s, dir)
          .select(col("doc_id").as("asset_id"), col("source"),
            length(col("text").cast("binary")).cast("long").as("n_bytes"))
          .withColumn("cum_bytes", sum(col("n_bytes")).over(w))
          // greatest(..., 0): a zero-byte asset at a source's head would
          // make cum_bytes-1 negative, where Spark div truncates toward
          // zero but DuckDB // floors — clamp so both engines agree on any
          // input (current corpora have no empty payloads; the guard is
          // for the ones that do)
          .withColumn("shard", expr(s"greatest(cum_bytes - 1, CAST(0 AS BIGINT)) div $budget"))
          .groupBy("source", "shard")
          .agg(count(lit(1)).as("n_assets"),
            sum(col("n_bytes")).as("shard_bytes"),
            min(col("asset_id")).as("first_asset"),
            max(col("asset_id")).as("last_asset"))
          .orderBy("source", "shard")
      },
      Some("""WITH a AS (SELECT doc_id AS asset_id, source,
             |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes FROM documents),
             |c AS (SELECT asset_id, source, n_bytes,
             |  CAST(SUM(n_bytes) OVER (PARTITION BY source ORDER BY asset_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_bytes
             |  FROM a),
             |sh AS (SELECT source, greatest(cum_bytes - 1, 0) // 4096 AS shard, asset_id, n_bytes FROM c)
             |SELECT source, shard, CAST(COUNT(*) AS BIGINT) AS n_assets,
             |  CAST(SUM(n_bytes) AS BIGINT) AS shard_bytes,
             |  MIN(asset_id) AS first_asset, MAX(asset_id) AS last_asset
             |FROM sh GROUP BY source, shard ORDER BY source, shard""".stripMargin)
    ),

    // Stubbed per-partition decode (real plumbing, fake codec — see
    // Multimodal.FakeCodec). Oracle-able despite the Scala codec: the stub's
    // features are deterministic byte arithmetic, and the ASCII corpus makes
    // bytes == ascii codes in SQL.
    GQuery(
      "multimodal_decode",
      (s, dir) =>
        Multimodal.decodeFeatures(Multimodal.documentsAsAssets(s, dir))
          .toDF()
          .select(
            col("asset_id"), col("n_bytes"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"),
            col("mean_byte"), col("head_hex"))
          .orderBy("asset_id"),
      Some("""SELECT doc_id AS asset_id,
             |CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             |CAST(16 * (ascii(substring(text, 1, 1)) + 1) AS BIGINT) AS width,
             |CAST(9 * (CASE WHEN length(text) > 1 THEN ascii(substring(text, 2, 1)) ELSE 0 END + 1)
             |  AS BIGINT) AS height,
             |CAST(list_aggregate(list_transform(range(1, length(text) + 1),
             |    i -> ascii(substring(text, i, 1))), 'sum') AS DOUBLE)
             |  / CAST(octet_length(encode(text)) AS DOUBLE) AS mean_byte,
             |lower(hex(encode(substring(text, 1, 8)))) AS head_hex
             |FROM documents ORDER BY asset_id""".stripMargin)
    ),

    // Frame sampling (video-pipeline shape): payload → strided fixed-size
    // chunks via flatMap. Oracle-able because the test corpus is pure ASCII
    // (verified at every SF), so byte slices equal char slices and DuckDB's
    // md5(substring(...)) reproduces the per-frame digest exactly.
    GQuery(
      "multimodal_frames",
      (s, dir) =>
        Multimodal.sampleFrames(Multimodal.documentsAsAssets(s, dir))
          .toDF()
          .select(
            col("asset_id"),
            col("frame_idx").cast("long").as("frame_idx"),
            col("n_bytes"), col("frame_hash"))
          .orderBy("asset_id", "frame_idx"),
      Some("""WITH idx AS (SELECT doc_id, text,
             |  unnest(range(0, CAST(ceil(length(text)/256.0) AS BIGINT))) AS fi
             |  FROM documents)
             |SELECT doc_id AS asset_id, CAST(fi AS BIGINT) AS frame_idx,
             |  CAST(length(substring(text, fi*256 + 1, 256)) AS BIGINT) AS n_bytes,
             |  md5(substring(text, fi*256 + 1, 256)) AS frame_hash
             |FROM idx WHERE fi % 2 = 0
             |ORDER BY asset_id, frame_idx""".stripMargin)
    ),

    // Resize (stub downsample: every 4th byte, binary in/out via
    // mapPartitions — the decode→scale→re-encode hop of a real codec).
    // Oracle-able like the other stubs: the ASCII corpus makes the strided
    // byte selection a strided char selection, and md5 over the downsampled
    // payload matches DuckDB's md5 over the re-assembled string.
    GQuery(
      "multimodal_resize",
      (s, dir) =>
        Multimodal.resize(Multimodal.documentsAsAssets(s, dir))
          .toDF()
          .select(
            col("asset_id"),
            md5(col("payload")).as("payload_md5"),
            col("orig_bytes"), col("new_bytes"))
          .orderBy("asset_id"),
      Some("""SELECT doc_id AS asset_id,
             |md5(list_aggregate(list_transform(
             |  list_filter(range(1, length(text) + 1), i -> (i - 1) % 4 = 0),
             |  i -> substring(text, i, 1)), 'string_agg', '')) AS payload_md5,
             |CAST(octet_length(encode(text)) AS BIGINT) AS orig_bytes,
             |CAST((length(text) + 3) // 4 AS BIGINT) AS new_bytes
             |FROM documents ORDER BY asset_id""".stripMargin)
    ),

    // ---- perceptual-hash signatures (asset NEAR-dup, vs md5's exact) --------
    // The media twin of dedup_simhash: a 64-bit block-mean signature per
    // payload carried as two 32-bit halves (aHash structure — bit i set
    // iff block i's byte mean beats the payload mean, integer
    // cross-multiplied; a real pipeline would hash the decoded luma
    // plane). Small byte edits flip few blocks, so near-duplicate assets
    // land at small Hamming distance — the property content digests
    // destroy. [r12] Widened from 32 bits: at 32, chance proximity at
    // Hamming ≤ 6 is ~2.6e-4 per pair — a noise floor that grows
    // QUADRATICALLY with corpus size (the r11 pair list at sf0.01 was
    // chance collisions between unrelated texts, measured 60 pairs over
    // 500 docs); at 64 bits it is ~5e-12, so emitted pairs are true
    // near-dups at any scale. The asset table plants deterministic
    // one-byte "re-encode" variants on every 10th source (ground truth
    // both engines construct identically) — the detection target.
    // Signature extraction is the decode mapPartitions shape: map-only
    // over payload splits, 16 bytes out per asset regardless of payload
    // size. Oracle-able because the ASCII corpus makes byte arithmetic
    // SQL-expressible (the multimodal_decode precedent).
    GQuery(
      "multimodal_phash",
      (s, dir) =>
        Multimodal.perceptualHash(Multimodal.assetsWithVariants(s, dir))
          .toDF()
          .orderBy("asset_id"),
      Some(s"""WITH $phashSql
              |SELECT asset_id, n AS n_bytes, ph_hi, ph_lo FROM ph
              |ORDER BY asset_id""".stripMargin)
    ),

    // Near-dup pair generation over the signatures: split the 64-bit hash
    // into 4 bands of 16 bits and equi-join on (band, value) — two assets
    // within Hamming distance 6 MAY share a clean band (the simhash/LSH
    // banding cut that keeps candidate generation an equi-join on
    // content-derived keys, never all-pairs, at the documented recall
    // trade for pairs whose differing bits hit every band). The 16-bit
    // band space is the scale decision: 8-bit bands have only 256 values,
    // so buckets grow linearly with the corpus and the within-bucket join
    // quadratically (measured at sf0.1: 5,000 assets → 299,478 candidates
    // for 60 true pairs); 2^16 values keep expected bucket size n/65536
    // per band — at 500k assets ~8, vs ~2000 for 8-bit. Candidates then
    // verify by exact popcount(xor) over both halves <= 6. Payloads never
    // move — the join carries 16-byte signatures + ids only.
    GQuery(
      "multimodal_phash_pairs",
      (s, dir) =>
        phashPairs(s, dir).orderBy("asset_a", "asset_b"),
      Some(s"""WITH $phashPairsSql
              |SELECT asset_a, asset_b, hamming FROM ppairs
              |ORDER BY asset_a, asset_b""".stripMargin)
    ),

    // Asset near-dup CLUSTERS: connected components over the verified
    // Hamming pairs via the same two-star machinery the text corpus uses
    // (dedup_cc_twostar) — a burst of re-encodes/crops of one source image
    // forms a chain of pairwise-near assets, and the keep-one-per-cluster
    // decision needs the component, not the pair list. [r12] With the
    // planted variant trios the components are GROUND-TRUTH (each source
    // and its two one-byte edits — a triangle or path depending on where
    // the edits' flipped bits land), not the chance-collision graph the
    // 32-bit signature produced. The oracle is the recursive reachability
    // closure, so the driver proves the O(log² n) two-star rounds find
    // exactly the true components of the phash graph. Only assets that
    // appear in some pair enter the CC stage (singletons are their own
    // trivial cluster and never shuffle).
    GQuery(
      "multimodal_phash_clusters",
      (s, dir) => {
        val pairs = Materialize(phashPairs(s, dir)
          .select(col("asset_a").as("a"), col("asset_b").as("b")))
        DedupQueries.twoStarComponents(pairs, DedupQueries.reliableCheckpoint(s))
          .select(col("v").as("asset_id"), col("lbl").as("cluster_id"))
          .withColumn("cluster_size",
            count(lit(1)).over(org.apache.spark.sql.expressions.Window
              .partitionBy("cluster_id")).cast("long"))
          .orderBy("asset_id")
      },
      Some(s"""WITH RECURSIVE $phashPairsSql,
              |ccedges AS (SELECT asset_a AS a, asset_b AS b FROM ppairs
              |  UNION SELECT asset_b, asset_a FROM ppairs),
              |ccverts AS (SELECT DISTINCT a AS v FROM ccedges),
              |reach(v, r) AS (
              |  SELECT v, v FROM ccverts
              |  UNION
              |  SELECT e.a, reach.r FROM ccedges e JOIN reach ON e.b = reach.v),
              |comp AS (SELECT v AS asset_id, MIN(r) AS cluster_id FROM reach GROUP BY v)
              |SELECT asset_id, cluster_id,
              |  CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
              |FROM comp ORDER BY asset_id""".stripMargin)
    ),

    // ---- incremental re-encode detection: arriving assets vs the index ------
    // The phash family's serving form (the dedup_winnow_incremental
    // topology on media): the standing corpus is the ORIGINAL assets'
    // banded signatures; the arriving batch is the planted re-encode
    // variants, whose 4 band keys each probe the corpus set — batch×corpus
    // only, candidates bounded per band bucket (expected n/65536), exact
    // Hamming verify on the signatures. Ground truth: every variant must
    // rediscover its source (one pair per variant, hamming = the edit's
    // flipped bits). Persisted path: writePhashIndex's bk-bucketed table,
    // probe join exchange-free on the corpus side (PartitionBucketSpec);
    // streaming twin runPhashProbe pinned drain==batch in StreamingSpec.
    GQuery(
      "multimodal_phash_incremental",
      (s, dir) => {
        val all = Materialize(
          Multimodal.perceptualHash(Multimodal.assetsWithVariants(s, dir)).toDF())
        val keys = phashBandKeys(all)
        phashProbePairs(
          keys.filter(col("asset_id") >= 1000000L),
          keys.filter(col("asset_id") < 1000000L))
          .orderBy("asset_id", "src_id")
      },
      Some(s"""WITH $phashPairsSql,
              |pidx AS (SELECT asset_id, ph_hi, ph_lo, j * 65536 + bv AS bk FROM bk
              |  WHERE asset_id < 1000000),
              |pbatch AS (SELECT asset_id, ph_hi, ph_lo, j * 65536 + bv AS bk FROM bk
              |  WHERE asset_id >= 1000000),
              |pcand AS (SELECT DISTINCT x.asset_id AS asset_id, y.asset_id AS src_id,
              |    x.ph_hi AS ha, x.ph_lo AS la, y.ph_hi AS hb, y.ph_lo AS lb
              |  FROM pbatch x JOIN pidx y ON x.bk = y.bk)
              |SELECT asset_id, src_id,
              |  CAST(bit_count(xor(ha, hb)) + bit_count(xor(la, lb)) AS BIGINT) AS hamming
              |FROM pcand
              |WHERE bit_count(xor(ha, hb)) + bit_count(xor(la, lb)) <= 6
              |ORDER BY asset_id, src_id""".stripMargin)
    ),

    // ---- re-encode detection under deletion: the takedown contract ---------
    // What the incremental probe must return after corpus assets are
    // DELETED from the standing index (asset_id % 9 = 4 here — a takedown
    // for rights/abuse reasons must stop matching immediately): the
    // deleted assets' band keys vanish from the candidate join, so a
    // variant of a deleted source finds NOTHING (exactly the intent — the
    // pulled content no longer attracts its re-encodes), while every other
    // variant still rediscovers its source. TombstoneSpec pins
    // deleteFromPhashIndex → phashIndexFrame probe equal to this entry
    // row-for-row and to a rebuilt index over the survivors.
    GQuery(
      "multimodal_phash_deleted",
      (s, dir) => {
        val all = Materialize(
          Multimodal.perceptualHash(Multimodal.assetsWithVariants(s, dir)).toDF())
        val keys = phashBandKeys(all)
        phashProbePairs(
          keys.filter(col("asset_id") >= 1000000L),
          keys.filter(col("asset_id") < 1000000L &&
            !(col("asset_id") % 9 === 4)))
          .orderBy("asset_id", "src_id")
      },
      Some(s"""WITH $phashPairsSql,
              |pidx AS (SELECT asset_id, ph_hi, ph_lo, j * 65536 + bv AS bk FROM bk
              |  WHERE asset_id < 1000000 AND NOT (asset_id % 9 = 4)),
              |pbatch AS (SELECT asset_id, ph_hi, ph_lo, j * 65536 + bv AS bk FROM bk
              |  WHERE asset_id >= 1000000),
              |pcand AS (SELECT DISTINCT x.asset_id AS asset_id, y.asset_id AS src_id,
              |    x.ph_hi AS ha, x.ph_lo AS la, y.ph_hi AS hb, y.ph_lo AS lb
              |  FROM pbatch x JOIN pidx y ON x.bk = y.bk)
              |SELECT asset_id, src_id,
              |  CAST(bit_count(xor(ha, hb)) + bit_count(xor(la, lb)) AS BIGINT) AS hamming
              |FROM pcand
              |WHERE bit_count(xor(ha, hb)) + bit_count(xor(la, lb)) <= 6
              |ORDER BY asset_id, src_id""".stripMargin)
    ),

    // ---- cross-modal retrieval: text query → asset ranking ------------------
    // The pair-mining/retrieval shape of multimodal curation (CLIP-style:
    // one shared embedding space, so a TEXT query ranks MEDIA assets by
    // vector proximity). The encoder is the corpus convention every ANN
    // entry already uses — query q's text embedding is embeddings.vec_id
    // == q_id, and asset a's media embedding is vec_id == asset_id (the
    // offline encoders' output table; a real pipeline lands both towers'
    // vectors in exactly this layout). Retrieval is the plain IVF ranking
    // (the identical CTE chain — shared with ann_ivf_topk), then the
    // ranked ids join to ASSET METADATA, which is what makes it
    // cross-modal serving rather than ANN: the caller gets assets, not
    // vector ids. Scale: the ranking reads probed cells only; the
    // metadata fetch keys on ≤ K·n_queries ids (serving form pushes them
    // as an In-list — the knnNeighborsFromGraph point-lookup discipline;
    // payloads never shuffle, only their metadata row). Persisted-index
    // twin crossmodalTopkFromIndex pinned equal in PartitionBucketSpec;
    // streaming twin runCrossmodalProbe pinned drain==batch in
    // StreamingSpec.
    GQuery(
      "multimodal_crossmodal_topk",
      (s, dir) => {
        val ranked = SimilarityQueries.ivfTopk(s, dir)
        val meta = Multimodal.decodeFeatures(
            Multimodal.documentsAsAssets(s, dir)).toDF()
          .select(col("asset_id"), col("n_bytes"))
        ranked.join(meta, ranked("cand_id") === meta("asset_id"))
          .select(col("q_id"), col("rank"), col("asset_id"), col("cos"),
            col("n_bytes"))
          .orderBy("q_id", "rank")
      },
      Some(s"""WITH ${SimilarityQueries.ivfRankedSql},
              |cmmeta AS (SELECT doc_id AS asset_id,
              |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes FROM documents)
              |SELECT q_id, rank, asset_id, cos, n_bytes
              |FROM ranked JOIN cmmeta ON ranked.cand_id = cmmeta.asset_id
              |WHERE rank <= ${SimilarityQueries.topK}
              |ORDER BY q_id, rank""".stripMargin)
    )
  )

  /** Cross-modal serving from the PERSISTED IVF index: the text queries'
    * vectors probe the partition-pruned index
    * ([[SimilarityQueries.ivfProbeIndex]] — tombstone-aware like every
    * IVF probe), and the ranked asset ids fetch their metadata through a
    * pushed In-list. Equals the inline `multimodal_crossmodal_topk`
    * (pinned in PartitionBucketSpec).
    */
  def crossmodalTopkFromIndex(
      s: org.apache.spark.sql.SparkSession, dir: String, ivfPath: String)
      : org.apache.spark.sql.DataFrame = {
    val e = graft.functions.VectorOps.normalized(s, dir)
    val q = e.filter(col("vec_id") < SimilarityQueries.nQueries)
      .select("vec_id", "v", "nrm")
    crossmodalEnrich(s, dir,
      SimilarityQueries.ivfProbeIndex(s, dir, ivfPath, q))
  }

  /** Join a rank list (q_id, rank, cand_id, cos) to asset metadata: the
    * ≤ K·n_queries candidate ids are a bounded control-plane list, pushed
    * to the asset scan as an In filter — the ranking did the heavy
    * lifting, the metadata fetch is a point lookup, and asset payloads
    * never shuffle (decode runs on the pruned handful of rows).
    */
  private[graft] def crossmodalEnrich(
      s: org.apache.spark.sql.SparkSession, dir: String,
      ranked: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val ids = ranked.select("cand_id").distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    val meta = Multimodal.decodeFeatures(
        Multimodal.documentsAsAssets(s, dir)
          .filter(col("asset_id").isin(ids.map(i => i: Any): _*))).toDF()
      .select(col("asset_id"), col("n_bytes"))
    ranked.join(broadcast(meta), ranked("cand_id") === meta("asset_id"))
      .select(col("q_id"), col("rank"), col("asset_id"), col("cos"),
        col("n_bytes"))
      .orderBy("q_id", "rank")
  }

  /** Banded candidate generation + exact Hamming verification over the
    * perceptual hashes — shared by the pairs and clusters entries.
    */
  /** Band keys over a signature frame (asset_id, ph_hi, ph_lo): one row
    * per (asset, band) with the composite key bk = j·2^16 + band value —
    * a single BIGINT so the bucketed index join needs exactly one key
    * column (the writeBandIndex/writeWinnowIndex discipline).
    */
  private[graft] def phashBandKeys(ph: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    ph.select(col("asset_id"), col("ph_hi"), col("ph_lo"),
        explode(expr("sequence(0, 3)")).as("j"))
      .withColumn("bk", expr(
        """j * 65536 + CASE WHEN j < 2 THEN shiftright(ph_lo, CAST(16 * j AS INT)) & 65535
          |ELSE shiftright(ph_hi, CAST(16 * (j - 2) AS INT)) & 65535 END""".stripMargin))
      .select("asset_id", "ph_hi", "ph_lo", "bk")

  /** Arriving-batch signatures probe a standing corpus signature set:
    * band-key equi-join, exact Hamming verify — batch×corpus only. Shared
    * by the registered `multimodal_phash_incremental` (inline corpus) and
    * the streaming probe against [[writePhashIndex]]'s bucketed table.
    * Emits (asset_id, src_id, hamming).
    */
  private[graft] def phashProbePairs(
      batchKeys: org.apache.spark.sql.DataFrame,
      corpusKeys: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    batchKeys.as("x")
      .join(corpusKeys.as("y"), col("x.bk") === col("y.bk"))
      .select(col("x.asset_id").as("asset_id"), col("y.asset_id").as("src_id"),
        col("x.ph_hi").as("ha"), col("x.ph_lo").as("la"),
        col("y.ph_hi").as("hb"), col("y.ph_lo").as("lb"))
      .distinct()
      .withColumn("hamming",
        expr("CAST(bit_count(ha ^ hb) + bit_count(la ^ lb) AS BIGINT)"))
      .filter(col("hamming") <= 6)
      .select("asset_id", "src_id", "hamming")

  /** Persist the ORIGINAL assets' banded signatures as a table BUCKETED by
    * the composite band key — the standing side of re-encode detection: an
    * arriving asset's 4 band keys probe the index from its buckets (no
    * corpus-side exchange; plan pinned in PartitionBucketSpec), candidates
    * verify by exact Hamming on the 16-byte signatures riding the index
    * rows. Payloads are never stored or moved.
    */
  def writePhashIndex(
      s: org.apache.spark.sql.SparkSession, dir: String,
      table: String, path: String): Unit = {
    // EAGER id-bound check at the build entry point: the lazy per-row
    // assert_true in assetsWithVariants only fires for rows a plan
    // actually evaluates, so a partition-pruned or limited probe could
    // misfile colliding ids (variant offsets vs real asset ids) before
    // any full scan trips it. At index-build time the bound must hold
    // GLOBALLY — every later probe classifies asset_id >= 1e6 as a
    // planted variant — and one column-pruned max() job here is
    // amortized over the index's whole serving life.
    val assets = Multimodal.documentsAsAssets(s, dir)
    val mx = assets.agg(max(col("asset_id"))).head
    require(mx.isNullAt(0) || mx.getLong(0) < 1000000L,
      s"writePhashIndex: max asset_id ${mx.get(0)} >= 1e6 collides with " +
        "the planted-variant id offsets — widen the offsets (and the " +
        "oracle) first")
    graft.sources.Tombstones.reset(s, path)
    s.sql(s"DROP TABLE IF EXISTS $table")
    phashBandKeys(Multimodal.perceptualHash(assets).toDF())
      .write.mode("overwrite")
      .bucketBy(8, "bk").sortBy("bk")
      .option("path", path)
      .saveAsTable(table)
  }

  /** Delete assets from a persisted phash index — the takedown path
    * (an asset removed for rights/abuse reasons must stop matching
    * immediately, not at the next rebuild): the ids land in the tombstone
    * sidecar, [[phashIndexFrame]] (every probe's read) anti-joins them out
    * with the takedown set broadcast, and [[compactPhashIndex]] folds them
    * in physically. The standing bucketed table is never shuffled or
    * rewritten by the delete itself.
    */
  def deleteFromPhashIndex(
      s: org.apache.spark.sql.SparkSession, table: String,
      assetIds: Seq[Long]): Unit =
    IndexWrite.delete(s, IndexWrite.Target(graft.sources.Tombstones.tableLocation(s, table),
      "asset_id", "deleteFromPhashIndex", "compactPhashIndex"), assetIds)

  /** The probe-facing view of a persisted phash index: the bk-bucketed
    * table minus its tombstoned assets, plus any open update window's
    * latest buffered signatures (base∪delta; with no window this is the
    * bare filtered scan).
    */
  def phashIndexFrame(
      s: org.apache.spark.sql.SparkSession, table: String)
      : org.apache.spark.sql.DataFrame = {
    val anchor = graft.sources.Tombstones.tableLocation(s, table)
    val ep = graft.sources.IndexManifest.current(s, anchor)
    graft.sources.Tombstones.maskedOverrideFrame(s, ep, s.table(table), "asset_id")
  }

  /** Buffer one asset-update batch into the phash index WITHOUT
    * compacting — the media family's LSM memtable: the tombstone masks
    * the ids' base band keys, the re-hashed replacement signatures land
    * in a delta batch, one manifest commit makes both visible. Hashing is
    * per-asset-local, so after every batch probes equal a rebuilt index.
    */
  def bufferPhashUpdate(
      assets: org.apache.spark.sql.DataFrame, table: String): Unit =
    replacePhash(assets, table, "bufferPhashUpdate", None)

  /** EXACTLY-ONCE streaming ingest of one asset micro-batch into the
    * phash index — the media family joins
    * [[graft.sources.IndexWrite.replace]]'s fence (same semantics as the
    * search/IVF/winnow/band/prefix twins: skip a replayed `batchId` of
    * the SAME lineage, refuse a different lineage loudly, rows + fence in
    * one atomic commit, fence carried across the compaction's location
    * move). `assets` carries (asset_id, payload, format). Streaming
    * caller: [[graft.streaming.DocumentsStream.runPhashIngest]].
    */
  def ingestPhashBatch(
      assets: org.apache.spark.sql.DataFrame, table: String, batchId: Long,
      streamId: String = "default"): Boolean =
    replacePhash(assets, table, "ingestPhashBatch", Some((streamId, batchId)))

  /** Every asset hashes, so the batch ids are the row-landing set. */
  private def replacePhash(
      assets: org.apache.spark.sql.DataFrame, table: String, what: String,
      fence: Option[(String, Long)]): Boolean =
    IndexWrite.replace(assets, IndexWrite.Target(
        graft.sources.Tombstones.tableLocation(assets.sparkSession, table),
        "asset_id", what, "compactPhashIndex"), fence) { (_, ids) =>
      // the same GLOBAL id bound the build enforces eagerly: every probe
      // classifies asset_id >= 1e6 as a planted variant, so an ingested
      // collision would misfile from this batch on — fail here, not there
      require(ids.forall(_ < 1000000L),
        s"$what: asset_ids ${ids.filter(_ >= 1000000L).take(5).mkString(",")} " +
          ">= 1e6 collide with the planted-variant id offsets — widen the " +
          "offsets (and the oracle) first")
      IndexWrite.Encoded(phashBandKeys(Multimodal.perceptualHash(assets).toDF()))
    }

  /** Physically remove tombstoned assets' band keys, fold any open update
    * window's delta batches in, and restore one file per bucket (the
    * shared bucketed-index compaction over the probe-visible view).
    */
  def compactPhashIndex(s: org.apache.spark.sql.SparkSession, table: String): Unit =
    graft.sources.Tombstones.compactBucketedIndex(s, table, phashIndexFrame(s, table))

  private def phashPairs(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    val ph = Materialize(
      Multimodal.perceptualHash(Multimodal.assetsWithVariants(s, dir)).toDF())
    val bk = ph.select(col("asset_id"), col("ph_hi"), col("ph_lo"),
        explode(expr("sequence(0, 3)")).as("j"))
      .withColumn("bv", expr(
        """CASE WHEN j < 2 THEN shiftright(ph_lo, CAST(16 * j AS INT)) & 65535
          |ELSE shiftright(ph_hi, CAST(16 * (j - 2) AS INT)) & 65535 END""".stripMargin))
    bk.as("x")
      .join(bk.as("y"),
        col("x.j") === col("y.j") && col("x.bv") === col("y.bv") &&
          col("x.asset_id") < col("y.asset_id"))
      .select(col("x.asset_id").as("asset_a"), col("y.asset_id").as("asset_b"),
        col("x.ph_hi").as("ha"), col("x.ph_lo").as("la"),
        col("y.ph_hi").as("hb"), col("y.ph_lo").as("lb"))
      .distinct()
      .withColumn("hamming",
        expr("CAST(bit_count(ha ^ hb) + bit_count(la ^ lb) AS BIGINT)"))
      .filter(col("hamming") <= 6)
      .select("asset_a", "asset_b", "hamming")
  }

  /** Oracle CTE chain ending in `ppairs` (asset_a, asset_b, hamming). */
  private def phashPairsSql: String =
    s"""$phashSql,
       |bands AS (SELECT asset_id, ph_hi, ph_lo, unnest(range(0, 4)) AS j FROM ph),
       |bk AS (SELECT asset_id, ph_hi, ph_lo, j,
       |    CASE WHEN j < 2 THEN (ph_lo >> CAST(16*j AS INTEGER)) & 65535
       |    ELSE (ph_hi >> CAST(16*(j-2) AS INTEGER)) & 65535 END AS bv FROM bands),
       |cand AS (SELECT DISTINCT x.asset_id AS asset_a, y.asset_id AS asset_b,
       |    x.ph_hi AS ha, x.ph_lo AS la, y.ph_hi AS hb, y.ph_lo AS lb
       |  FROM bk x JOIN bk y ON x.j = y.j AND x.bv = y.bv AND x.asset_id < y.asset_id),
       |ppairs AS (SELECT asset_a, asset_b,
       |    CAST(bit_count(xor(ha, hb)) + bit_count(xor(la, lb)) AS BIGINT) AS hamming
       |  FROM cand WHERE bit_count(xor(ha, hb)) + bit_count(xor(la, lb)) <= 6)""".stripMargin

  /** Shared oracle CTEs computing the 64-block signature over the ASCII
    * payload bytes of the variant-planted asset set; ends in `ph`
    * (asset_id, n, ph_hi, ph_lo). Mirrors [[Multimodal.perceptualHash]]'s
    * integer arithmetic exactly — the two 32-bit halves keep every shift
    * in the positive range (a single 64-bit sum would ride the sign bit).
    */
  private def phashSql: String = {
    def half(lo: Int, hi: Int, msb: Int): String =
      s"""CAST(list_aggregate(list_transform(range($lo, $hi), i ->
         |    CASE WHEN COALESCE(list_aggregate(
         |        by[((i*n)//64 + 1):(((i+1)*n)//64)], 'sum'), 0) * n
         |           > tot * ((((i+1)*n)//64) - ((i*n)//64))
         |      THEN CAST(1 AS BIGINT) << CAST($msb - i AS INTEGER) ELSE 0 END),
         |    'sum') AS BIGINT)""".stripMargin
    s"""${Multimodal.assetsWithVariantsSql},
       |phb AS (SELECT asset_id, text, CAST(length(text) AS BIGINT) AS n,
       |    list_transform(range(1, length(text) + 1),
       |      i -> CAST(ascii(substring(text, i, 1)) AS BIGINT)) AS by
       |  FROM am),
       |pht AS (SELECT asset_id, n, by,
       |    CAST(list_aggregate(by, 'sum') AS BIGINT) AS tot FROM phb),
       |ph AS (SELECT asset_id, n,
       |  COALESCE(${half(0, 32, 31)}, 0) AS ph_hi,
       |  COALESCE(${half(32, 64, 63)}, 0) AS ph_lo
       |  FROM pht)""".stripMargin
  }
}
