package graft

import org.apache.spark.sql.functions._

/** The deletion/tombstone lifecycle over every persisted index family:
  * delete must take effect at the NEXT probe (no rebuild, no standing-file
  * rewrite), probe-after-delete must equal both the registered inline
  * "deleted" entry and an index REBUILT over the survivors, and compaction
  * must fold tombstones in physically (rows gone, sidecar cleared, probe
  * results unchanged). Re-using a deleted id before compaction fails
  * loudly on the append paths.
  */
@Slow
class TombstoneSpec extends SparkSpec {

  private lazy val tmp = java.nio.file.Files.createTempDirectory("graft-tomb").toString

  private def sorted(df: org.apache.spark.sql.DataFrame) =
    df.orderBy(df.columns.map(col).toSeq: _*).collect().toSeq

  test("IVF delete: probe masks tombstones, equals rebuild; compaction folds them in") {
    import graft.operators.SimilarityQueries
    val path = s"$tmp/ivf_del"
    SimilarityQueries.writeIvfIndex(spark, sfDir, path)
    val deleted = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") % 13 === 7)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(deleted.nonEmpty)
    SimilarityQueries.deleteFromIvfIndex(spark, path, deleted)
    val probed = sorted(SimilarityQueries.ivfTopkFromIndex(spark, sfDir, path))
    // == the registered inline deleted entry (oracle-verified by the driver)
    val inline = sorted(SparkEntry.queries("ann_ivf_deleted")(spark, sfDir))
    assert(probed.nonEmpty && probed == inline)
    // == an index rebuilt over the survivors (delete == rebuild)
    val rebuiltPath = s"$tmp/ivf_del_rebuilt"
    SimilarityQueries.writeIvfIndexWhere(
      spark, sfDir, rebuiltPath, !(col("vec_id") % 13 === 7))
    assert(probed == sorted(SimilarityQueries.ivfTopkFromIndex(spark, sfDir, rebuiltPath)))
    // no deleted id ever surfaces
    assert(!probed.exists(r => deleted.contains(r.getLong(2))))
    // compaction: rows physically gone, sidecar cleared, probe unchanged
    SimilarityQueries.compactIvfIndex(spark, path)
    assert(spark.read.parquet(graft.sources.IndexManifest.dataPath(spark, path, path))
      .filter(col("vec_id").isin(deleted.map(i => i: Any): _*)).count() == 0)
    assert(graft.sources.Tombstones.idSet(spark, path).isEmpty)
    assert(probed == sorted(SimilarityQueries.ivfTopkFromIndex(spark, sfDir, path)))
  }

  test("inverted-index delete: stats/df re-anchor to survivors, equals rebuild") {
    import graft.operators.SearchQueries
    val path = s"$tmp/search_del"
    SearchQueries.writeSearchIndex(spark, sfDir, "search_del_idx", path)
    val deleted = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 7 === 3)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(deleted.nonEmpty)
    SearchQueries.deleteFromSearchIndex(spark, "search_del_idx", path, deleted)
    val probed = sorted(SearchQueries.bm25TopkFromIndex(spark, "search_del_idx", path))
    // == the registered inline deleted entry: candidates gone AND scores
    // re-anchored (df + n_docs/tt over survivors)
    val inline = sorted(SparkEntry.queries("search_bm25_deleted")(spark, sfDir))
    assert(probed.nonEmpty && probed == inline)
    // == an index rebuilt over the survivors
    val rbPath = s"$tmp/search_del_rebuilt"
    SearchQueries.writeSearchIndexWhere(
      spark, sfDir, "search_del_rebuilt", rbPath, !(col("doc_id") % 7 === 3))
    assert(probed == sorted(SearchQueries.bm25TopkFromIndex(spark, "search_del_rebuilt", rbPath)))
    // deleting the same ids again is a no-op (stats must not double-decrement)
    SearchQueries.deleteFromSearchIndex(
      spark, "search_del_idx", path, deleted.take(3))
    assert(probed == sorted(SearchQueries.bm25TopkFromIndex(spark, "search_del_idx", path)))
    // re-using a deleted id before compaction fails loudly
    val clash = Tables.documents(spark, sfDir)
      .filter(col("doc_id") === deleted.head)
      .select("doc_id", "text", "lang")
    val e = intercept[IllegalArgumentException] {
      SearchQueries.appendSearchIndex(spark, "search_del_idx", path, clash)
    }
    assert(e.getMessage.contains("deleted"), e.getMessage)
    // compaction folds tombstones in: rows gone, sidecar cleared, parity
    SearchQueries.compactSearchIndex(spark, "search_del_idx", path)
    assert(spark.table("search_del_idx")
      .filter(col("doc_id").isin(deleted.map(i => i: Any): _*)).count() == 0)
    assert(graft.sources.Tombstones.idSet(spark, path).isEmpty)
    assert(probed == sorted(SearchQueries.bm25TopkFromIndex(spark, "search_del_idx", path)))
  }

  test("winnow delete: probe-time df re-derives over survivors, bucketing kept") {
    import graft.operators.{DedupQueries, TextQueries}
    val thr = DedupQueries.writeWinnowIndex(spark, sfDir, "winnow_del_idx", s"$tmp/winnow_del")
    val deleted = Tables.documents(spark, sfDir)
      .filter(col("doc_id") < thr && col("doc_id") % 11 === 5)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(deleted.nonEmpty)
    DedupQueries.deleteFromWinnowIndex(spark, "winnow_del_idx", deleted)
    val bFps = TextQueries.winnowSelected(
        Tables.documents(spark, sfDir).filter(col("doc_id") >= thr)
          .select("doc_id", "text"))
      .select(col("doc_id"), col("fp")).distinct()
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prior = spark.conf.get(key)
    spark.conf.set(key, "-1") // the tombstone anti-join must not need auto-broadcast
    try {
      val served = DedupQueries.winnowIncrementalPairs(
        bFps, DedupQueries.winnowIndexFrame(spark, "winnow_del_idx"))
      val got = served.orderBy("doc_id", "c_id").collect().toSeq
      // the bucketed corpus side still feeds the join exchange-free: batch
      // side + the pair distinct/aggregate shuffle, nothing from the index
      val plan = served.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(plan.contains("Bucketed: true"), plan)
      assert(plan.contains("BroadcastExchange"), plan) // the tombstone mask
      val inline = SparkEntry.queries("dedup_winnow_deleted")(spark, sfDir)
        .collect().toSeq
      assert(got.nonEmpty && got == inline)
      // compaction: rows gone, sidecar cleared, probe parity
      DedupQueries.compactWinnowIndex(spark, "winnow_del_idx")
      assert(spark.table("winnow_del_idx")
        .filter(col("doc_id").isin(deleted.map(i => i: Any): _*)).count() == 0)
      assert(graft.sources.Tombstones.idSetForTable(spark, "winnow_del_idx").isEmpty)
      val after = DedupQueries.winnowIncrementalPairs(
          bFps, DedupQueries.winnowIndexFrame(spark, "winnow_del_idx"))
        .orderBy("doc_id", "c_id").collect().toSeq
      assert(after == got)
    } finally spark.conf.set(key, prior)
  }

  test("winnow append after delete of the same id fails loudly") {
    import graft.operators.DedupQueries
    val thr = DedupQueries.writeWinnowIndex(
      spark, sfDir, "winnow_del_clash", s"$tmp/winnow_del_clash")
    val someId = spark.table("winnow_del_clash")
      .agg(min(col("doc_id"))).head.getLong(0)
    DedupQueries.deleteFromWinnowIndex(spark, "winnow_del_clash", Seq(someId))
    val e = intercept[IllegalArgumentException] {
      DedupQueries.appendWinnowIndex(
        Tables.documents(spark, sfDir)
          .filter(col("doc_id") === someId).select("doc_id", "text"),
        "winnow_del_clash")
    }
    assert(e.getMessage.contains("deleted"), e.getMessage)
    // after compaction the id is genuinely gone and may be re-appended
    // (visible through the frame — the atomic append lands as a delta)
    DedupQueries.compactWinnowIndex(spark, "winnow_del_clash")
    DedupQueries.appendWinnowIndex(
      Tables.documents(spark, sfDir)
        .filter(col("doc_id") === someId).select("doc_id", "text"),
      "winnow_del_clash")
    assert(DedupQueries.winnowIndexFrame(spark, "winnow_del_clash")
      .filter(col("doc_id") === someId).count() > 0)
  }

  test("phash delete: takedown stops matching, probe equals inline deleted entry") {
    import graft.operators.{Multimodal, MultimodalQueries}
    MultimodalQueries.writePhashIndex(spark, sfDir, "phash_del_idx", s"$tmp/phash_del")
    val deleted = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 9 === 4)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(deleted.nonEmpty)
    MultimodalQueries.deleteFromPhashIndex(spark, "phash_del_idx", deleted)
    val batchKeys = MultimodalQueries.phashBandKeys(
      Multimodal.perceptualHash(
        Multimodal.assetsWithVariants(spark, sfDir)
          .filter(col("asset_id") >= 1000000L)).toDF())
    val got = MultimodalQueries.phashProbePairs(
        batchKeys, MultimodalQueries.phashIndexFrame(spark, "phash_del_idx"))
      .orderBy("asset_id", "src_id").collect().toSeq
    val inline = SparkEntry.queries("multimodal_phash_deleted")(spark, sfDir)
      .collect().toSeq
    assert(got.nonEmpty && got == inline)
    // a deleted source's variants now find nothing
    assert(!got.exists(r => deleted.contains(r.getLong(1))))
    // compaction parity
    MultimodalQueries.compactPhashIndex(spark, "phash_del_idx")
    assert(graft.sources.Tombstones.idSetForTable(spark, "phash_del_idx").isEmpty)
    val after = MultimodalQueries.phashProbePairs(
        batchKeys, MultimodalQueries.phashIndexFrame(spark, "phash_del_idx"))
      .orderBy("asset_id", "src_id").collect().toSeq
    assert(after == got)
  }

  test("band-index delete: candidates equal the inline survivors") {
    import graft.operators.DedupQueries
    val thr = DedupQueries.writeBandIndex(spark, sfDir, "band_del_idx", s"$tmp/band_del")
    val d = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val deleted = d.filter(col("doc_id") < thr && col("doc_id") % 11 === 5)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(deleted.nonEmpty)
    DedupQueries.deleteFromBandIndex(spark, "band_del_idx", deleted)
    val batchBands = DedupQueries.bandKeysOf(
      DedupQueries.signaturesOf(d.filter(col("doc_id") >= thr)))
    val idx = DedupQueries.bandIndexFrame(spark, "band_del_idx")
      .select(col("doc_id").as("c_id"), col("bk"))
    val got = batchBands.join(idx, "bk").select("doc_id", "c_id").distinct()
      .orderBy("doc_id", "c_id").collect().toSeq
    // inline: the same candidate join over the surviving corpus
    val all = DedupQueries.bandKeysOf(DedupQueries.signaturesOf(d))
    val inline = all.filter(col("doc_id") >= thr)
      .join(all.filter(col("doc_id") < thr && !(col("doc_id") % 11 === 5))
        .select(col("doc_id").as("c_id"), col("bk")), "bk")
      .select("doc_id", "c_id").distinct()
      .orderBy("doc_id", "c_id").collect().toSeq
    assert(got.nonEmpty && got == inline)
    assert(!got.exists(r => deleted.contains(r.getLong(1))))
    // compaction parity
    DedupQueries.compactBandIndex(spark, "band_del_idx")
    assert(graft.sources.Tombstones.idSetForTable(spark, "band_del_idx").isEmpty)
    val after = batchBands
      .join(DedupQueries.bandIndexFrame(spark, "band_del_idx")
        .select(col("doc_id").as("c_id"), col("bk")), "bk")
      .select("doc_id", "c_id").distinct()
      .orderBy("doc_id", "c_id").collect().toSeq
    assert(after == got)
  }

  test("k-NN graph delete: tombstoned nodes route but never surface; compaction removes them") {
    import graft.operators.SimilarityQueries
    import graft.functions.VectorOps
    val path = s"$tmp/knn_del"
    SimilarityQueries.writeKnnGraph(spark, sfDir, path)
    val q = VectorOps.normalized(spark, sfDir).filter(col("vec_id") < 10)
    val before = SimilarityQueries.graphBeamFromIndex(spark, sfDir, path, q).collect()
    assert(before.nonEmpty)
    // delete each query's top hit (guaranteed to be in the result set),
    // excluding ids that are themselves queries
    val deleted = before.filter(r => r.getLong(1) == 1L && r.getLong(2) >= 10L)
      .map(_.getLong(2)).distinct.toSeq
    assert(deleted.nonEmpty)
    SimilarityQueries.deleteFromKnnGraph(spark, path, deleted)
    val after = SimilarityQueries.graphBeamFromIndex(spark, sfDir, path, q).collect()
    // deleted ids never surface, every query still fills its top-k, and
    // ranks stay contiguous (survivors re-pack)
    assert(!after.exists(r => deleted.contains(r.getLong(2))))
    assert(after.groupBy(_.getLong(0)).forall { case (_, rs) =>
      rs.map(_.getLong(1)).sorted.toSeq == (1L to rs.length).toSeq })
    // point lookups suppress both sides
    val nbrs = SimilarityQueries.knnNeighborsFromGraph(
      spark, path, deleted.take(2) ++ Seq(3L))
    val rows = nbrs.collect()
    assert(!rows.exists(r => deleted.contains(r.getLong(0))))
    assert(!rows.exists(r => deleted.contains(r.getLong(2))))
    // compaction: every edge touching a deleted node is physically gone
    SimilarityQueries.compactKnnGraph(spark, path)
    assert(graft.sources.Tombstones.idSet(spark, path).isEmpty)
    val remaining = spark.read.parquet(graft.sources.IndexManifest.dataPath(spark, path, path))
      .filter(col("vec_id").isin(deleted.map(i => i: Any): _*) ||
        col("nbr_id").isin(deleted.map(i => i: Any): _*)).count()
    assert(remaining == 0)
    // and the beam probe result is unchanged by the physical fold-in
    val afterCompact = SimilarityQueries.graphBeamFromIndex(spark, sfDir, path, q).collect()
    assert(!afterCompact.exists(r => deleted.contains(r.getLong(2))))
  }

  test("prefix-index delete: verified pairs equal survivors despite the frozen order") {
    // the order-stability claim made a pin: the index keeps its BUILD-time
    // (df_b, x) token order after deletions — candidates may differ from a
    // rebuild's (which would re-rank under survivor df) but the
    // Jaccard-VERIFIED pair set is exact under any fixed order, so
    // probe-after-delete equals the inline pipeline over the survivors
    import graft.operators.DedupQueries
    val thr = DedupQueries.writePrefixIndex(
      spark, sfDir, "prefix_del_idx", s"$tmp/prefix_del")
    val d = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val deleted = spark.table("prefix_del_idx").select("doc_id").distinct()
      .filter(col("doc_id") % 11 === 5)
      .collect().map(_.getLong(0)).toSeq
    assert(deleted.nonEmpty)
    DedupQueries.deleteFromPrefixIndex(spark, "prefix_del_idx", deleted)
    val batch = d.filter(col("doc_id") >= thr)
    val (idx, fwd) = DedupQueries.prefixIndexFrames(spark, "prefix_del_idx")
    val got = DedupQueries.prefixIncrementalPairs(batch, idx, fwd)
      .orderBy("doc_id", "c_id").collect().toSeq
    // inline over the SURVIVING CONTENT (its own consistent order): the
    // index is rep-collapsed, so a deleted representative takes its whole
    // identical-text group down — the content-takedown contract
    val deletedTexts = d
      .filter(col("doc_id").isin(deleted.map(i => i: Any): _*))
      .select(md5(col("text")).as("h")).distinct()
    val survRows = DedupQueries.prefixIndexRows(
      d.filter(col("doc_id") < thr)
        .join(deletedTexts, md5(col("text")) === col("h"), "left_anti"))
    val expect = DedupQueries.prefixIncrementalPairs(batch, survRows, survRows)
      .orderBy("doc_id", "c_id").collect().toSeq
    assert(got == expect)
    assert(!got.exists(r => deleted.contains(r.getLong(1))))
    // compaction folds both halves; probe parity preserved
    DedupQueries.compactPrefixIndex(spark, "prefix_del_idx")
    assert(graft.sources.Tombstones.idSetForTable(spark, "prefix_del_idx").isEmpty)
    assert(graft.sources.Tombstones.idSetForTable(spark, "prefix_del_idx_fwd").isEmpty)
    val (idx2, fwd2) = DedupQueries.prefixIndexFrames(spark, "prefix_del_idx")
    val after = DedupQueries.prefixIncrementalPairs(batch, idx2, fwd2)
      .orderBy("doc_id", "c_id").collect().toSeq
    assert(after == got)
  }

  test("PQ/SQ/RP deletes: codes/sketch rows mask and fold; encoding artifacts stay fixed") {
    // the remaining persisted vector layouts: probe-after-delete must
    // equal a probe over the same index with the deleted per-vector rows
    // physically absent AND the encoding artifacts (PQ codebook, SQ
    // quantization grid, RP projection) unchanged — deleting rows never
    // re-encodes survivors. Then compaction realizes exactly that state.
    import graft.operators.SimilarityQueries
    val deleted = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") % 17 === 11 && col("vec_id") >= 50)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(deleted.nonEmpty)
    val delSet = deleted.toSet

    // ---- PQ: codes filtered, codebook byte-identical --------------------
    val pq = s"$tmp/pq_del"
    SimilarityQueries.writePqIndex(spark, sfDir, pq)
    val pqRef = s"$tmp/pq_del_ref"
    spark.read.parquet(s"$pq/codebook").write.parquet(s"$pqRef/codebook")
    spark.read.parquet(s"$pq/codes")
      .filter(!col("vec_id").isin(deleted.map(i => i: Any): _*))
      .write.parquet(s"$pqRef/codes")
    SimilarityQueries.deleteFromPqIndex(spark, pq, deleted)
    val pqGot = sorted(SimilarityQueries.pqTopkFromIndex(spark, sfDir, pq))
    assert(pqGot.nonEmpty &&
      pqGot == sorted(SimilarityQueries.pqTopkFromIndex(spark, sfDir, pqRef)))
    assert(!pqGot.exists(r => delSet(r.getLong(2))))
    SimilarityQueries.compactPqIndex(spark, pq)
    assert(graft.sources.Tombstones.idSet(spark, pq).isEmpty)
    assert(spark.read.parquet(
        graft.sources.IndexManifest.dataPath(spark, pq, s"$pq/codes"))
      .filter(col("vec_id").isin(deleted.map(i => i: Any): _*)).count() == 0)
    assert(pqGot == sorted(SimilarityQueries.pqTopkFromIndex(spark, sfDir, pq)))

    // ---- SQ: codes filtered, the (mns, mxs) grid untouched --------------
    val sq = s"$tmp/sq_del"
    SimilarityQueries.writeSqIndex(spark, sfDir, sq)
    val sqRef = s"$tmp/sq_del_ref"
    spark.read.parquet(s"$sq/stats").write.parquet(s"$sqRef/stats")
    spark.read.parquet(s"$sq/codes")
      .filter(!col("vec_id").isin(deleted.map(i => i: Any): _*))
      .write.parquet(s"$sqRef/codes")
    SimilarityQueries.deleteFromSqIndex(spark, sq, deleted)
    val sqGot = sorted(SimilarityQueries.sqTopkFromIndex(spark, sfDir, sq))
    assert(sqGot.nonEmpty &&
      sqGot == sorted(SimilarityQueries.sqTopkFromIndex(spark, sfDir, sqRef)))
    assert(!sqGot.exists(r => delSet(r.getLong(2))))
    val gridBefore = spark.read.parquet(s"$sq/stats").collect().toSeq
    SimilarityQueries.compactSqIndex(spark, sq)
    assert(graft.sources.Tombstones.idSet(spark, sq).isEmpty)
    assert(spark.read.parquet(s"$sq/stats").collect().toSeq == gridBefore,
      "compaction must never touch the quantization grid")
    assert(sqGot == sorted(SimilarityQueries.sqTopkFromIndex(spark, sfDir, sq)))

    // ---- RP sketch: screen re-packs around the deleted rows -------------
    val rp = s"$tmp/rp_del"
    SimilarityQueries.writeRpSketch(spark, sfDir, rp)
    val rpRef = s"$tmp/rp_del_ref"
    // the reference keeps the QUERY rows (vec_id < N_QUERIES are serving
    // input) and drops only corpus candidates — the mask's exact contract
    spark.read.parquet(rp)
      .filter(!col("vec_id").isin(deleted.map(i => i: Any): _*))
      .write.parquet(rpRef)
    SimilarityQueries.deleteFromRpSketch(spark, rp, deleted)
    val rpGot = sorted(SimilarityQueries.rpTopkFromSketch(spark, sfDir, rp))
    assert(rpGot.nonEmpty &&
      rpGot == sorted(SimilarityQueries.rpTopkFromSketch(spark, sfDir, rpRef)))
    assert(!rpGot.exists(r => delSet(r.getLong(2))))
    SimilarityQueries.compactRpSketch(spark, rp)
    assert(graft.sources.Tombstones.idSet(spark, rp).isEmpty)
    assert(rpGot == sorted(SimilarityQueries.rpTopkFromSketch(spark, sfDir, rp)))
  }

  test("index update (delete + fold + re-append) equals an index over the updated corpus") {
    // the lifecycle's UPDATE, composed from the verified pieces: changed
    // documents re-enter with new text, and probes must equal an index
    // built from scratch over the updated corpus — stats advanced, df and
    // candidates re-anchored, no stale rows surviving
    import graft.operators.{DedupQueries, SearchQueries, TextQueries}
    // ---- inverted index -----------------------------------------------
    val sPath = s"$tmp/search_upd"
    SearchQueries.writeSearchIndex(spark, sfDir, "search_upd", sPath)
    val updatedDocs = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 13 === 2)
      .select(col("doc_id"),
        concat(col("text"), lit(" zulu yankee xray whiskey")).as("text"), col("lang"))
    SearchQueries.updateSearchIndex(spark, "search_upd", sPath, updatedDocs)
    val probed = sorted(SearchQueries.bm25TopkFromIndex(spark, "search_upd", sPath))
    val updCorpus = Tables.documents(spark, sfDir)
      .filter(!(col("doc_id") % 13 === 2)).select("doc_id", "text", "lang")
      .unionByName(updatedDocs)
    val expect = sorted(SearchQueries.bm25OverDocs(spark, updCorpus))
    assert(probed.nonEmpty && probed == expect)
    // no tombstones outstanding after the update (fold happened inside)
    assert(graft.sources.Tombstones.idSet(spark, sPath).isEmpty)
    // ---- winnow index -------------------------------------------------
    val thr = DedupQueries.writeWinnowIndex(
      spark, sfDir, "winnow_upd", s"$tmp/winnow_upd")
    val d = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val updatedW = d.filter(col("doc_id") < thr && col("doc_id") % 13 === 2)
      .select(col("doc_id"),
        concat(col("text"), lit(" zulu yankee xray whiskey victor")).as("text"))
    DedupQueries.updateWinnowIndex(updatedW, "winnow_upd")
    val bFps = TextQueries.winnowSelected(d.filter(col("doc_id") >= thr))
      .select(col("doc_id"), col("fp")).distinct()
    val got = DedupQueries.winnowIncrementalPairs(
        bFps, DedupQueries.winnowIndexFrame(spark, "winnow_upd"))
      .orderBy("doc_id", "c_id").collect().toSeq
    val updW = d.filter(col("doc_id") < thr && !(col("doc_id") % 13 === 2))
      .unionByName(updatedW)
    val cfps = TextQueries.winnowSelected(updW)
      .select(col("doc_id"), col("fp")).distinct()
    val wexpect = DedupQueries.winnowIncrementalPairs(
        bFps,
        cfps.join(cfps.groupBy("doc_id").agg(count(lit(1)).as("n_fp_c")), "doc_id"))
      .orderBy("doc_id", "c_id").collect().toSeq
    assert(got.nonEmpty && got == wexpect)
  }

  test("IVF update re-places moved vectors in their new cells, equals inline") {
    // a changed embedding may belong to a DIFFERENT cell: the update must
    // re-assign it under the index's own quantizer, and probes must equal
    // an inline IVF over the updated vector set (same seed geometry —
    // the updated ids stay outside the seed range, as a stable deployment
    // keeps its quantizer fixed across re-encodes)
    import graft.operators.SimilarityQueries
    import graft.functions.VectorOps
    import org.apache.spark.sql.expressions.Window
    val path = s"$tmp/ivf_upd"
    SimilarityQueries.writeIvfIndex(spark, sfDir, path)
    val updPred = col("vec_id") % 19 === 5 && col("vec_id") >= 16
    val mod = Tables.embeddings(spark, sfDir).filter(updPred)
      .select(col("vec_id"), reverse(col("embedding")).as("embedding"), col("label"))
    assert(mod.count() > 0)
    SimilarityQueries.updateIvfIndex(spark, sfDir, path, mod)
    assert(graft.sources.Tombstones.idSet(spark, path).isEmpty)
    val got = sorted(SimilarityQueries.ivfTopkFromIndex(spark, sfDir, path))
    // inline reference: the identical pipeline over the updated vector set
    val e = VectorOps.normalized(spark, sfDir)
    val modN = mod.select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("nrm", expr(s"sqrt(${VectorOps.dotExpr("v", "v")})"))
    val eUpd = e.filter(!updPred).unionByName(modN)
    val seeds = SimilarityQueries.seedSet(e)
    val assign = SimilarityQueries.assignToSeeds(eUpd, seeds)
      .select("vec_id", "v", "nrm", "seed_id")
    val q = e.filter(col("vec_id") < SimilarityQueries.nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val pw = Window.partitionBy("q_id").orderBy(col("pcos").desc, col("seed_id"))
    val probes = q.join(seeds)
      .select(col("q_id"), col("qv"), col("qn"), col("seed_id"),
        VectorOps.cosCol("qv", "sv", "qn", "sn").as("pcos"))
      .withColumn("rn", row_number().over(pw))
      .filter(col("rn") <= SimilarityQueries.nProbe)
      .select("q_id", "qv", "qn", "seed_id")
    val cand = probes.join(assign, "seed_id")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("cand_id"),
        VectorOps.cosCol("qv", "v", "qn", "nrm").as("cos"))
      .distinct()
    val rw = Window.partitionBy("q_id").orderBy(col("cos").desc, col("cand_id"))
    val expect = sorted(cand.withColumn("rank", row_number().over(rw).cast("long"))
      .filter(col("rank") <= SimilarityQueries.topK)
      .select("q_id", "rank", "cand_id", "cos"))
    assert(got.nonEmpty && got == expect)
  }

  test("hybrid serving under a two-index takedown fuses the surviving lists") {
    // the realistic takedown touches EVERY index the content lives in:
    // delete the fixed doc set from the postings table and the fixed
    // vector set from the IVF index, then the hybrid composition must
    // equal fusing the two registered (oracle-verified) deleted lists —
    // no re-plumbing, the masks compose through rrfFuse untouched
    import graft.operators.{SearchQueries, SimilarityQueries}
    val sPath = s"$tmp/search_idx_hdel"
    val iPath = s"$tmp/ivf_idx_hdel"
    SearchQueries.writeSearchIndex(spark, sfDir, "search_idx_hdel", sPath)
    SimilarityQueries.writeIvfIndex(spark, sfDir, iPath)
    val docDel = Tables.documents(spark, sfDir).filter(col("doc_id") % 7 === 3)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    val vecDel = Tables.embeddings(spark, sfDir).filter(col("vec_id") % 13 === 7)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    SearchQueries.deleteFromSearchIndex(spark, "search_idx_hdel", sPath, docDel)
    SimilarityQueries.deleteFromIvfIndex(spark, iPath, vecDel)
    val got = SearchQueries.hybridTopkFromIndexes(
      spark, sfDir, "search_idx_hdel", sPath, iPath).collect()
    val bm = SparkEntry.queries("search_bm25_deleted")(spark, sfDir)
      .select(col("q_id"), col("doc_id"), col("rank").as("rank_t"))
    val vec = SparkEntry.queries("ann_ivf_deleted")(spark, sfDir)
      .filter(col("q_id") < 4)
      .select(col("q_id"), col("cand_id").as("doc_id"), col("rank").as("rank_v"))
    val expected = SearchQueries.rrfFuse(bm, vec).collect()
    assert(got.nonEmpty && got.toSeq == expected.toSeq)
  }

  test("PQ ingest: encode-on-arrival against the frozen codebook; the fold preserves it") {
    // the compressed layout's exactly-once ingest: arriving vectors
    // encode against the PERSISTED codebook (the immutable geometry) and
    // serve from the delta window; the fold rewrites base∪delta into one
    // codes dir through a DIFFERENT read path, so before==after fold is a
    // genuinely independent check of the visible view — plus the standard
    // fence battery (replay no-op across the fold, foreign lineage loud)
    import graft.operators.SimilarityQueries
    val path = s"$tmp/pq_ingest"
    SimilarityQueries.writePqIndex(spark, sfDir, path)
    val before = sorted(SimilarityQueries.pqTopkFromIndex(spark, sfDir, path))
    // new vectors near the queries: reversed embeddings of low ids, shifted
    val batch = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") >= 16 && col("vec_id") < 48)
      .select(col("vec_id") + 7000000L as "vec_id",
        reverse(col("embedding")).as("embedding"), col("label"))
    assert(SimilarityQueries.ingestPqBatch(spark, path, batch, 0L))
    val ingested = sorted(SimilarityQueries.pqTopkFromIndex(spark, sfDir, path))
    assert(ingested != before, "ingested codes must be probe-visible")
    // replay: fenced, nothing changes
    assert(!SimilarityQueries.ingestPqBatch(spark, path, batch, 0L))
    assert(sorted(SimilarityQueries.pqTopkFromIndex(spark, sfDir, path)) == ingested)
    // the fold physically rewrites base∪delta — probe identical after
    SimilarityQueries.compactPqIndex(spark, path)
    assert(graft.sources.IndexManifest.current(spark, path).exists(_.deltas.isEmpty))
    assert(sorted(SimilarityQueries.pqTopkFromIndex(spark, sfDir, path)) == ingested)
    // the fence rode through the fold; a foreign lineage refuses
    assert(!SimilarityQueries.ingestPqBatch(spark, path, batch, 0L))
    val e = intercept[IllegalArgumentException] {
      SimilarityQueries.ingestPqBatch(spark, path, batch, 0L, streamId = "other")
    }
    assert(e.getMessage.contains("lineage"), e.getMessage)
    // a takedown of an ingested-then-folded id serves the survivors
    SimilarityQueries.deleteFromPqIndex(spark, path, Seq(7000016L))
    val after = sorted(SimilarityQueries.pqTopkFromIndex(spark, sfDir, path))
    assert(!after.exists(_.getLong(2) == 7000016L))
    // review-found corruption paths, pinned shut: (a) deleting an id with
    // an OPEN delta row would mask only the base and the fold would
    // resurrect it — must refuse until the fold; (b) one batch carrying
    // the same id twice would silently BLEND two embeddings' subspace
    // codes into one garbage row — must refuse upstream
    SimilarityQueries.compactPqIndex(spark, path)
    val b2 = Tables.embeddings(spark, sfDir).filter(col("vec_id") === 3L)
      .select(col("vec_id") + 7100000L as "vec_id", col("embedding"), col("label"))
    assert(SimilarityQueries.ingestPqBatch(spark, path, b2, 1L))
    val eDel = intercept[IllegalArgumentException] {
      SimilarityQueries.deleteFromPqIndex(spark, path, Seq(7100003L))
    }
    assert(eDel.getMessage.contains("buffered"), eDel.getMessage)
    val eDup = intercept[IllegalArgumentException] {
      SimilarityQueries.ingestPqBatch(spark, path, b2.unionAll(b2), 2L)
    }
    assert(eDup.getMessage.contains("duplicate"), eDup.getMessage)
  }

  test("SQ ingest: encode-on-arrival against the frozen grid; out-of-grid values clamp") {
    // the scalar-quantized twin of the PQ ingest pin, plus the grid-edge
    // case PQ cannot have: an ingested value OUTSIDE the build-time
    // (mns, mxs) grid must code to the nearest edge bucket (the build
    // corpus never exercises the lower clamp — only ingest can)
    import graft.operators.SimilarityQueries
    val path = s"$tmp/sq_ingest"
    SimilarityQueries.writeSqIndex(spark, sfDir, path)
    val before = sorted(SimilarityQueries.sqTopkFromIndex(spark, sfDir, path))
    val batch = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") >= 16 && col("vec_id") < 48)
      .select(col("vec_id") + 8000000L as "vec_id",
        // scale OUTSIDE the build grid on both sides: 3x pushes maxima
        // above mxs and minima below mns — the clamp must hold
        expr("transform(embedding, x -> x * 3.0F)").as("embedding"), col("label"))
    assert(SimilarityQueries.ingestSqBatch(spark, path, batch, 0L))
    val ingested = sorted(SimilarityQueries.sqTopkFromIndex(spark, sfDir, path))
    assert(ingested != before, "ingested codes must be probe-visible")
    // every delta code is a legal byte despite the out-of-grid values
    val codes = graft.sources.Tombstones.deltaFrame(spark, path).get
      .select(explode(col("cd")).as("c"))
      .agg(min(col("c")).as("lo"), max(col("c")).as("hi")).head
    assert(codes.getInt(0) >= 0 && codes.getInt(1) <= 255, codes)
    // replay fences; the fold preserves the probe through the other path
    assert(!SimilarityQueries.ingestSqBatch(spark, path, batch, 0L))
    SimilarityQueries.compactSqIndex(spark, path)
    assert(sorted(SimilarityQueries.sqTopkFromIndex(spark, sfDir, path)) == ingested)
    assert(!SimilarityQueries.ingestSqBatch(spark, path, batch, 0L))
  }

  test("hybrid serving over two INGESTED indexes equals the full-build fusion") {
    // the ingest counterpart of the two-index takedown pin: bootstrap
    // halves of both indexes, stream the remainders in as exactly-once
    // batches, and the hybrid composition must equal fusing the two
    // registered full-corpus lists — base∪delta views compose through
    // rrfFuse exactly like the tombstone masks do
    import graft.operators.{SearchQueries, SimilarityQueries}
    val sPath = s"$tmp/search_idx_hing"
    val iPath = s"$tmp/ivf_idx_hing"
    SearchQueries.writeSearchIndexWhere(
      spark, sfDir, "search_idx_hing", sPath, col("doc_id") % 2 === 0)
    SimilarityQueries.writeIvfIndexWhere(spark, sfDir, iPath, col("vec_id") % 2 === 0)
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text", "lang")
    assert(SearchQueries.ingestSearchBatch(spark, "search_idx_hing", sPath,
      docs.filter(col("doc_id") % 2 === 1), 0L))
    assert(SimilarityQueries.ingestIvfBatch(spark, sfDir, iPath,
      Tables.embeddings(spark, sfDir).filter(col("vec_id") % 2 === 1), 0L))
    val got = SearchQueries.hybridTopkFromIndexes(
      spark, sfDir, "search_idx_hing", sPath, iPath).collect()
    val bm = SparkEntry.queries("search_bm25_topk")(spark, sfDir)
      .select(col("q_id"), col("doc_id"), col("rank").as("rank_t"))
    val vec = SparkEntry.queries("ann_ivf_topk")(spark, sfDir)
      .filter(col("q_id") < 4)
      .select(col("q_id"), col("cand_id").as("doc_id"), col("rank").as("rank_v"))
    val expected = SearchQueries.rrfFuse(bm, vec).collect()
    assert(got.nonEmpty && got.toSeq == expected.toSeq)
  }

  test("streaming BM25 probe sees a mid-lifecycle takedown from the next batch on") {
    // the lexical twin of the winnow mid-stream pin: tombstones + the
    // stats decrement laid down before the drain must re-anchor every
    // micro-batch's scoring — drain equals the one-shot deleted ranking
    import graft.operators.SearchQueries
    import graft.streaming.SearchStream
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-tombsearch").toString
    SearchQueries.writeSearchIndex(spark, sfDir, "search_del_stream", s"$base/idx")
    val deleted = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 7 === 3)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    SearchQueries.deleteFromSearchIndex(spark, "search_del_stream", s"$base/idx", deleted)
    // one FILE per query (the runBm25Probe contract: a query's terms
    // arrive within one micro-batch)
    val queries = Seq(
      0L -> Seq("spark", "join", "fast"), 1L -> Seq("hash", "table", "scan"),
      2L -> Seq("vector", "stream", "window"), 3L -> Seq("customer", "order", "query"))
    queries.foreach { case (q, ts) =>
      ts.map(t => (q, t)).toDF("q_id", "term")
        .coalesce(1).write.mode("append").parquet(s"$base/in")
    }
    SearchStream.runBm25Probe(
      spark, s"$base/in", "search_del_stream", s"$base/idx", s"$base/out", s"$base/ckpt")
    val commits = new java.io.File(s"$base/ckpt/commits").listFiles()
      .count(f => f.getName.forall(_.isDigit))
    assert(commits >= 2, s"expected several micro-batches, got $commits")
    val direct = SparkEntry.queries("search_bm25_deleted")(spark, sfDir)
    val cols = direct.columns.map(col).toSeq
    val got = spark.read.parquet(s"$base/out")
      .select(cols: _*).orderBy("q_id", "rank").collect()
    assert(got.nonEmpty && got.toSeq == direct.orderBy("q_id", "rank").collect().toSeq)
  }

  test("streaming winnow probe sees a mid-lifecycle takedown from the next batch on") {
    // the mid-stream correctness twin: tombstones laid down BEFORE the
    // drain must be invisible to every micro-batch — drain equals the
    // one-shot deleted probe exactly
    import graft.operators.{DedupQueries, TextQueries}
    import graft.streaming.DocumentsStream
    val base = java.nio.file.Files.createTempDirectory("graft-tombstream").toString
    val thr = DedupQueries.writeWinnowIndex(
      spark, sfDir, "winnow_del_stream", s"$base/idx")
    val deleted = Tables.documents(spark, sfDir)
      .filter(col("doc_id") < thr && col("doc_id") % 11 === 5)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    DedupQueries.deleteFromWinnowIndex(spark, "winnow_del_stream", deleted)
    Tables.documents(spark, sfDir).select("doc_id", "text")
      .filter(col("doc_id") >= thr).repartition(3)
      .write.mode("overwrite").parquet(s"$base/in")
    DocumentsStream.runWinnowProbe(
      spark, s"$base/in", "winnow_del_stream", s"$base/out", s"$base/ckpt")
    val commits = new java.io.File(s"$base/ckpt/commits").listFiles()
      .count(f => f.getName.forall(_.isDigit))
    assert(commits >= 2, s"expected several micro-batches, got $commits")
    val direct = SparkEntry.queries("dedup_winnow_deleted")(spark, sfDir)
    val cols = direct.columns.map(col).toSeq
    val got = spark.read.parquet(s"$base/out")
      .select(cols: _*).orderBy("doc_id", "c_id").collect()
    assert(got.nonEmpty && got.toSeq == direct.orderBy("doc_id", "c_id").collect().toSeq)
  }

  test("buffered update window: N batches + one fold == N eager updates, one physical rewrite") {
    // the amortization knob made real (r14 verdict task): eager updates
    // compact per call (N physical rewrites); the buffered path lands each
    // batch as tombstone+delta in one manifest commit, probes read
    // base∪delta and must equal the eager twin after EVERY batch, and the
    // fold is the window's only rewrite
    import graft.operators.SearchQueries
    val eP = s"$tmp/search_buf_eager"
    val bP = s"$tmp/search_buf"
    SearchQueries.writeSearchIndex(spark, sfDir, "search_buf_e", eP)
    SearchQueries.writeSearchIndex(spark, sfDir, "search_buf_b", bP)
    def upd(mod: Int, suffix: String) = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 13 === mod)
      .select(col("doc_id"), concat(col("text"), lit(suffix)).as("text"), col("lang"))
    // batch 3 re-updates batch 1's ids — the within-window supersede case
    val batches = Seq(
      upd(2, " zulu yankee"), upd(5, " xray whiskey"), upd(2, " victor uniform"))
    def loc(t: String) = graft.sources.Tombstones.tableLocation(spark, t)
    var eagerMoves = 0
    var prevLoc = loc("search_buf_e")
    batches.foreach { b =>
      SearchQueries.updateSearchIndex(spark, "search_buf_e", eP, b)
      if (loc("search_buf_e") != prevLoc) { eagerMoves += 1; prevLoc = loc("search_buf_e") }
    }
    assert(eagerMoves == batches.size, s"eager path rewrote $eagerMoves times")
    val bufLoc0 = loc("search_buf_b")
    batches.foreach(b => SearchQueries.bufferSearchUpdate(spark, "search_buf_b", bP, b))
    val eagerRows = sorted(SearchQueries.bm25TopkFromIndex(spark, "search_buf_e", eP))
    // parity BEFORE the fold, with zero rewrites of the buffered index
    assert(loc("search_buf_b") == bufLoc0, "a buffer call must not rewrite the index")
    assert(sorted(SearchQueries.bm25TopkFromIndex(spark, "search_buf_b", bP)) == eagerRows)
    // the fold retires the window in ONE rewrite; parity and clean state
    SearchQueries.compactSearchIndex(spark, "search_buf_b", bP)
    assert(loc("search_buf_b") != bufLoc0)
    assert(graft.sources.Tombstones.idSet(spark, bP).isEmpty)
    assert(graft.sources.Tombstones.deltaFrame(spark, bP).isEmpty)
    assert(sorted(SearchQueries.bm25TopkFromIndex(spark, "search_buf_b", bP)) == eagerRows)

    // ---- IVF: same contract; rewrite count measured on the data pointer --
    import graft.operators.SimilarityQueries
    val eIvf = s"$tmp/ivf_buf_eager"
    val bIvf = s"$tmp/ivf_buf"
    SimilarityQueries.writeIvfIndex(spark, sfDir, eIvf)
    SimilarityQueries.writeIvfIndex(spark, sfDir, bIvf)
    def vupd(m: Int) = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") % 19 === m && col("vec_id") >= 16)
      .select(col("vec_id"), reverse(col("embedding")).as("embedding"), col("label"))
    def dataOf(p: String) = graft.sources.IndexManifest.dataPath(spark, p, p)
    val vbatches = Seq(vupd(5), vupd(7), vupd(5))
    var ivfMoves = 0
    var prevData = dataOf(eIvf)
    vbatches.foreach { b =>
      SimilarityQueries.updateIvfIndex(spark, sfDir, eIvf, b)
      if (dataOf(eIvf) != prevData) { ivfMoves += 1; prevData = dataOf(eIvf) }
    }
    assert(ivfMoves == vbatches.size, s"eager IVF path rewrote $ivfMoves times")
    val bData0 = dataOf(bIvf)
    vbatches.foreach(b => SimilarityQueries.bufferIvfUpdate(spark, sfDir, bIvf, b))
    val eagerIvf = sorted(SimilarityQueries.ivfTopkFromIndex(spark, sfDir, eIvf))
    assert(dataOf(bIvf) == bData0, "a buffer call must not rewrite the index")
    assert(sorted(SimilarityQueries.ivfTopkFromIndex(spark, sfDir, bIvf)) == eagerIvf)
    SimilarityQueries.compactIvfIndex(spark, bIvf)
    assert(dataOf(bIvf) != bData0)
    assert(graft.sources.Tombstones.idSet(spark, bIvf).isEmpty)
    assert(graft.sources.Tombstones.deltaFrame(spark, bIvf).isEmpty)
    assert(sorted(SimilarityQueries.ivfTopkFromIndex(spark, sfDir, bIvf)) == eagerIvf)

    // ---- winnow: probe-time df over base∪delta -------------------------
    import graft.operators.{DedupQueries, TextQueries}
    val thr = DedupQueries.writeWinnowIndex(
      spark, sfDir, "winnow_buf_e", s"$tmp/winnow_buf_e")
    DedupQueries.writeWinnowIndex(spark, sfDir, "winnow_buf_b", s"$tmp/winnow_buf_b")
    val d = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    def wupd(m: Int, suffix: String) = d
      .filter(col("doc_id") < thr && col("doc_id") % 13 === m)
      .select(col("doc_id"), concat(col("text"), lit(suffix)).as("text"))
    val wbatches = Seq(wupd(2, " zulu yankee xray"), wupd(5, " whiskey victor"),
      wupd(2, " uniform tango sierra"))
    wbatches.foreach(b => DedupQueries.updateWinnowIndex(b, "winnow_buf_e"))
    wbatches.foreach(b => DedupQueries.bufferWinnowUpdate(b, "winnow_buf_b"))
    val bFps = TextQueries.winnowSelected(d.filter(col("doc_id") >= thr))
      .select(col("doc_id"), col("fp")).distinct()
    def wprobe(t: String) = DedupQueries.winnowIncrementalPairs(
        bFps, DedupQueries.winnowIndexFrame(spark, t))
      .orderBy("doc_id", "c_id").collect().toSeq
    val eagerW = wprobe("winnow_buf_e")
    assert(eagerW.nonEmpty && wprobe("winnow_buf_b") == eagerW)
    DedupQueries.compactWinnowIndex(spark, "winnow_buf_b")
    assert(graft.sources.Tombstones.idSetForTable(spark, "winnow_buf_b").isEmpty)
    assert(wprobe("winnow_buf_b") == eagerW)
  }

  test("tombstone-debt audit over live indexes equals the registered report") {
    // the compaction-trigger signal: Tombstones.debt over real indexes
    // with the standing fixed takedowns applied must equal the
    // oracle-paired q_index_tombstone_debt rows, and an open update
    // window must surface as delta debt
    import graft.operators.{DedupQueries, SearchQueries, SimilarityQueries}
    val t = graft.sources.Tombstones
    val sp = s"$tmp/debt_search"
    SearchQueries.writeSearchIndex(spark, sfDir, "debt_search_idx", sp)
    val sDel = Tables.documents(spark, sfDir).filter(col("doc_id") % 7 === 3)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    SearchQueries.deleteFromSearchIndex(spark, "debt_search_idx", sp, sDel)
    DedupQueries.writeWinnowIndex(spark, sfDir, "debt_winnow_idx", s"$tmp/debt_winnow")
    val wDel = spark.table("debt_winnow_idx").filter(col("doc_id") % 11 === 5)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSeq
    DedupQueries.deleteFromWinnowIndex(spark, "debt_winnow_idx", wDel)
    val ip = s"$tmp/debt_ivf"
    SimilarityQueries.writeIvfIndex(spark, sfDir, ip)
    val iDel = Tables.embeddings(spark, sfDir).filter(col("vec_id") % 13 === 7)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    SimilarityQueries.deleteFromIvfIndex(spark, ip, iDel)
    val live = t.debt("search", spark.table("debt_search_idx"), sp, "doc_id")
      .unionByName(t.debt("winnow", spark.table("debt_winnow_idx"),
        t.tableLocation(spark, "debt_winnow_idx"), "doc_id"))
      .unionByName(t.debt("ivf",
        spark.read.parquet(graft.sources.IndexManifest.dataPath(spark, ip, ip)),
        ip, "vec_id"))
      .orderBy("family")
    val expect = SparkEntry.queries("q_index_tombstone_debt")(spark, sfDir)
    assert(live.collect().toSeq == expect.collect().toSeq)
    // an open update window surfaces as delta debt (the fixed scenario
    // cannot stage this — pinned here instead)
    val upd = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 13 === 1 && col("doc_id") % 7 =!= 3) // deleted ids refuse (resurrect guard)
      .select(col("doc_id"), concat(col("text"), lit(" tango")).as("text"), col("lang"))
    SearchQueries.bufferSearchUpdate(spark, "debt_search_idx", sp, upd)
    val after = t.debt("search", spark.table("debt_search_idx"), sp, "doc_id").head()
    assert(after.getLong(4) == 1L, s"delta_batches: $after")
    assert(after.getLong(1) > sDel.size.toLong, s"buffered ids must tombstone: $after")
  }

  test("vacuum reclaims superseded lifecycle artifacts, probes unchanged") {
    // the GC half of prepare-then-commit: superseded epoch-named stats
    // dirs (each delete/append lands a new one) and planted orphans are
    // reclaimed; everything the CURRENT epoch references survives
    import graft.operators.SearchQueries
    val t = graft.sources.Tombstones
    val path = s"$tmp/search_vac"
    SearchQueries.writeSearchIndex(spark, sfDir, "search_vac_idx", path)
    val d1 = Tables.documents(spark, sfDir).filter(col("doc_id") % 7 === 3)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    SearchQueries.deleteFromSearchIndex(spark, "search_vac_idx", path, d1) // v1
    SearchQueries.appendSearchIndex(spark, "search_vac_idx", path,        // v2 (ONE commit: delta + stats)
      Tables.documents(spark, sfDir).filter(col("doc_id") % 7 === 3)
        .select(col("doc_id") + 1000000L as "doc_id", col("text"), col("lang")))
    // a second ORIGINAL-id takedown (an appended id sits in the open delta
    // window, where the delete path correctly refuses until a fold)
    val d2 = Tables.documents(spark, sfDir).filter(col("doc_id") % 7 === 2)
      .select("doc_id").limit(1).collect().map(_.getLong(0)).toSeq
    SearchQueries.deleteFromSearchIndex(spark, "search_vac_idx", path, d2) // v3
    val before = sorted(SearchQueries.bm25TopkFromIndex(spark, "search_vac_idx", path))
    def exists(p: String) = new java.io.File(p).exists()
    // v1 and v2 stats are superseded by v3's; fragments f1/f3 and the
    // append's delta b2 stay live
    assert(exists(s"${path}_stats_e1") && exists(s"${path}_stats_e2"))
    val reclaimed = t.vacuum(spark, path)
    assert(reclaimed >= 2, s"reclaimed $reclaimed")
    assert(!exists(s"${path}_stats_e1") && !exists(s"${path}_stats_e2"))
    assert(exists(s"${path}_stats_e3"))
    assert(exists(s"${t.sidecar(path)}/f1") && exists(s"${t.sidecar(path)}/f3"))
    assert(exists(s"${t.deltaDir(path)}/b2"), "the live delta batch must survive")
    assert(sorted(SearchQueries.bm25TopkFromIndex(spark, "search_vac_idx", path)) == before)
    // a planted data-epoch orphan (a crashed compaction cleanup) reclaims
    // through the defaultData naming; the live artifacts again survive
    import graft.operators.SimilarityQueries
    val ip = s"$tmp/ivf_vac"
    SimilarityQueries.writeIvfIndex(spark, sfDir, ip)
    SimilarityQueries.deleteFromIvfIndex(spark, ip,
      Tables.embeddings(spark, sfDir).filter(col("vec_id") % 13 === 7)
        .select("vec_id").collect().map(_.getLong(0)).toSeq) // v1
    SimilarityQueries.compactIvfIndex(spark, ip)             // v2: data __e2
    SimilarityQueries.deleteFromIvfIndex(spark, ip, Seq(3L)) // v3
    val orphan = new java.io.File(s"${ip}__e1")
    orphan.mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"${ip}__e1/junk"), Array[Byte](1))
    val probed = sorted(SimilarityQueries.ivfTopkFromIndex(spark, sfDir, ip))
    val got = t.vacuum(spark, ip, Some(ip))
    assert(got >= 1, s"reclaimed $got")
    assert(!orphan.exists())
    assert(exists(s"${ip}__e2"), "the live data epoch must survive")
    assert(sorted(SimilarityQueries.ivfTopkFromIndex(spark, sfDir, ip)) == probed)
  }

  test("k-word phrase probe under takedown and buffered update reads the visible postings") {
    // the phrase probe resolves visiblePostings, so the lifecycle rides
    // along for free — pin it: a takedown drops a doc's phrase matches,
    // and a buffered update's new text matches from the next probe on
    import graft.operators.SearchQueries
    val path = s"$tmp/search_kp_life"
    SearchQueries.writeSearchIndex(spark, sfDir, "search_kp_life", path)
    val phrase = Seq((0L, Seq("stream", "table", "hash")))
    val before = SearchQueries
      .phraseKMatchFromIndex(spark, "search_kp_life", path, phrase).collect()
    assert(before.nonEmpty)
    // take down one matching doc: it must vanish from the next probe
    val victim = before.head.getLong(2)
    SearchQueries.deleteFromSearchIndex(spark, "search_kp_life", path, Seq(victim))
    val after = SearchQueries
      .phraseKMatchFromIndex(spark, "search_kp_life", path, phrase).collect()
    assert(!after.exists(_.getLong(2) == victim))
    assert(after.map(r => (r.getLong(2), r.getLong(3))).toSet ==
      before.filter(_.getLong(2) != victim).map(r => (r.getLong(2), r.getLong(3))).toSet)
    // buffered update: a doc rewritten to contain the phrase matches
    // without any rewrite of standing files
    val target = Tables.documents(spark, sfDir)
      .filter(col("doc_id") =!= victim).orderBy("doc_id").limit(1)
      .select(col("doc_id"),
        lit("stream table hash stream table hash").as("text"), col("lang"))
    val tid = target.head.getLong(0)
    SearchQueries.bufferSearchUpdate(spark, "search_kp_life", path, target)
    val buffered = SearchQueries
      .phraseKMatchFromIndex(spark, "search_kp_life", path, phrase).collect()
    val hit = buffered.filter(_.getLong(2) == tid)
    assert(hit.length == 1 && hit.head.getLong(3) == 2L,
      s"expected the buffered doc with n_occ=2: ${buffered.toSeq}")
  }

  test("filtered and IVF-PQ probes see buffered vector updates") {
    // the two composed IVF probes also resolve the base∪delta view — pin
    // that a buffered update's moved vectors serve through them without a
    // rewrite (parity vs the eagerly-updated twin index)
    import graft.operators.SimilarityQueries
    val eP = s"$tmp/ivf_cmp_eager"
    val bP = s"$tmp/ivf_cmp_buf"
    SimilarityQueries.writeIvfIndex(spark, sfDir, eP)
    SimilarityQueries.writeIvfIndex(spark, sfDir, bP)
    val mod = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") % 19 === 5 && col("vec_id") >= 16)
      .select(col("vec_id"), reverse(col("embedding")).as("embedding"), col("label"))
    SimilarityQueries.updateIvfIndex(spark, sfDir, eP, mod)
    SimilarityQueries.bufferIvfUpdate(spark, sfDir, bP, mod)
    assert(
      sorted(SimilarityQueries.ivfFilteredTopkFromIndex(spark, sfDir, bP)) ==
        sorted(SimilarityQueries.ivfFilteredTopkFromIndex(spark, sfDir, eP)))
    val pq = s"$tmp/ivf_cmp_pq"
    SimilarityQueries.writePqIndex(spark, sfDir, pq)
    assert(
      sorted(SimilarityQueries.ivfPqTopkFromIndex(spark, sfDir, bP, pq)) ==
        sorted(SimilarityQueries.ivfPqTopkFromIndex(spark, sfDir, eP, pq)))
  }

  test("eager update of an id with an open buffered batch fails loudly") {
    // the review-found corruption path, pinned shut: tombstoning a
    // buffered id directly would let the fold write its STALE delta rows
    // into the compacted base (IVF: both versions serve forever; winnow:
    // the new version is silently dropped) — the update must refuse until
    // the window folds, exactly like the append-path collision guard
    import graft.operators.{DedupQueries, SearchQueries, SimilarityQueries}
    val ip = s"$tmp/ivf_updguard"
    SimilarityQueries.writeIvfIndex(spark, sfDir, ip)
    val mod = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") % 19 === 5 && col("vec_id") >= 16)
      .select(col("vec_id"), reverse(col("embedding")).as("embedding"), col("label"))
    SimilarityQueries.bufferIvfUpdate(spark, sfDir, ip, mod)
    val e1 = intercept[IllegalArgumentException] {
      SimilarityQueries.updateIvfIndex(spark, sfDir, ip, mod)
    }
    assert(e1.getMessage.contains("buffered"), e1.getMessage)
    // after the fold the same update goes through, and probes equal the
    // all-eager twin
    SimilarityQueries.compactIvfIndex(spark, ip)
    SimilarityQueries.updateIvfIndex(spark, sfDir, ip, mod)
    val eIp = s"$tmp/ivf_updguard_e"
    SimilarityQueries.writeIvfIndex(spark, sfDir, eIp)
    SimilarityQueries.updateIvfIndex(spark, sfDir, eIp, mod)
    assert(sorted(SimilarityQueries.ivfTopkFromIndex(spark, sfDir, ip)) ==
      sorted(SimilarityQueries.ivfTopkFromIndex(spark, sfDir, eIp)))
    // winnow
    val thr = DedupQueries.writeWinnowIndex(
      spark, sfDir, "winnow_updguard", s"$tmp/winnow_updguard")
    val wmod = Tables.documents(spark, sfDir)
      .filter(col("doc_id") < thr && col("doc_id") % 13 === 2)
      .select(col("doc_id"), concat(col("text"), lit(" zulu")).as("text"))
    DedupQueries.bufferWinnowUpdate(wmod, "winnow_updguard")
    val e2 = intercept[IllegalArgumentException] {
      DedupQueries.updateWinnowIndex(wmod, "winnow_updguard")
    }
    assert(e2.getMessage.contains("buffered"), e2.getMessage)
    // search (already routed through the guarded delete — pin it anyway)
    val sp = s"$tmp/search_updguard"
    SearchQueries.writeSearchIndex(spark, sfDir, "search_updguard", sp)
    val smod = Tables.documents(spark, sfDir).filter(col("doc_id") % 13 === 2)
      .select(col("doc_id"), concat(col("text"), lit(" zulu")).as("text"), col("lang"))
    SearchQueries.bufferSearchUpdate(spark, "search_updguard", sp, smod)
    val e3 = intercept[IllegalArgumentException] {
      SearchQueries.updateSearchIndex(spark, "search_updguard", sp, smod)
    }
    assert(e3.getMessage.contains("buffered"), e3.getMessage)
  }

  test("as-of travel survives appends (insert-only deltas) and fails loudly across a compaction") {
    // the atomic append never touches standing files, so the base
    // generation holds and travel below an append stays EXACT (the old
    // in-place append had to fence it); a compaction rewrites the base,
    // so travel across it refuses loudly — without the generation counter
    // an as-of read below it would SILENTLY mix epochs
    import graft.operators.{SearchQueries, SimilarityQueries}
    val path = s"$tmp/search_asofgen"
    SearchQueries.writeSearchIndex(spark, sfDir, "search_asofgen", path)
    SearchQueries.deleteFromSearchIndex(spark, "search_asofgen", path,
      Seq(Tables.documents(spark, sfDir).agg(min(col("doc_id"))).head.getLong(0))) // v1
    val atV1 = sorted(SearchQueries.bm25TopkFromIndexAsOf(spark, "search_asofgen", path, 1L))
    SearchQueries.appendSearchIndex(spark, "search_asofgen", path,              // v2, same gen
      Tables.documents(spark, sfDir).limit(3)
        .select(col("doc_id") + 5000000L as "doc_id", col("text"), col("lang")))
    // travel below the append reproduces the pre-append ranking exactly
    assert(sorted(SearchQueries.bm25TopkFromIndexAsOf(
      spark, "search_asofgen", path, 1L)) == atV1)
    // the compaction is the generation boundary: travel below it refuses
    SearchQueries.compactSearchIndex(spark, "search_asofgen", path)
    val err = intercept[IllegalArgumentException] {
      SearchQueries.bm25TopkFromIndexAsOf(spark, "search_asofgen", path, 1L)
    }
    assert(err.getMessage.contains("generation"), err.getMessage)
    // same for the IVF compaction boundary
    val ip = s"$tmp/ivf_asofgen"
    SimilarityQueries.writeIvfIndex(spark, sfDir, ip)
    SimilarityQueries.deleteFromIvfIndex(spark, ip, Seq(17L)) // v1
    SimilarityQueries.compactIvfIndex(spark, ip)              // v2, gen+1
    val err2 = intercept[IllegalArgumentException] {
      SimilarityQueries.ivfTopkFromIndexAsOf(spark, sfDir, ip, 1L)
    }
    assert(err2.getMessage.contains("generation"), err2.getMessage)
  }

  test("index-served decontamination keeps a buffered-updated eval item screening") {
    // the review-found gap, pinned shut: a buffered eval update masks the
    // base rows AND supplies replacement rows — the decontaminator must
    // read both arms (the old code read only the base, silently dropping
    // the item from screening until the next fold)
    import graft.operators.SimilarityQueries
    val bP = s"$tmp/decon_buf"
    val eP = s"$tmp/decon_eager"
    SimilarityQueries.writeIvfIndexWhere(spark, sfDir, bP, col("vec_id") % 10 === 0)
    SimilarityQueries.writeIvfIndexWhere(spark, sfDir, eP, col("vec_id") % 10 === 0)
    val mod = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") % 10 === 0 && col("vec_id") % 3 === 0 && col("vec_id") >= 16)
      .select(col("vec_id"), reverse(col("embedding")).as("embedding"), col("label"))
    assert(mod.count() > 0)
    SimilarityQueries.bufferIvfUpdate(spark, sfDir, bP, mod)
    SimilarityQueries.updateIvfIndex(spark, sfDir, eP, mod)
    val got = sorted(SimilarityQueries.decontamVerdictsFromIndex(spark, sfDir, bP))
    val expect = sorted(SimilarityQueries.decontamVerdictsFromIndex(spark, sfDir, eP))
    assert(got.nonEmpty && got == expect)
  }

  test("as-of reads reproduce earlier epochs until vacuum bounds the horizon") {
    // time travel over the manifest: version files are immutable and
    // complete, so resolving through epoch v reproduces what a probe
    // returned when v was current — the training-reproducibility read
    import graft.operators.{SearchQueries, SimilarityQueries}
    val path = s"$tmp/search_asof"
    SearchQueries.writeSearchIndex(spark, sfDir, "search_asof_idx", path)
    val deleted = Tables.documents(spark, sfDir).filter(col("doc_id") % 7 === 3)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    SearchQueries.deleteFromSearchIndex(spark, "search_asof_idx", path, deleted) // v1
    val upd = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 13 === 2 && col("doc_id") % 7 =!= 3) // deleted ids refuse (resurrect guard)
      .select(col("doc_id"), concat(col("text"), lit(" zulu")).as("text"), col("lang"))
    SearchQueries.bufferSearchUpdate(spark, "search_asof_idx", path, upd)        // v2
    // as-of 0 = the build state = the registered pre-delete ranking
    assert(sorted(SearchQueries.bm25TopkFromIndexAsOf(spark, "search_asof_idx", path, 0L)) ==
      sorted(SparkEntry.queries("search_bm25_topk")(spark, sfDir)))
    // as-of 1 = the post-takedown ranking
    assert(sorted(SearchQueries.bm25TopkFromIndexAsOf(spark, "search_asof_idx", path, 1L)) ==
      sorted(SparkEntry.queries("search_bm25_deleted")(spark, sfDir)))
    // as-of the current epoch = the live probe
    assert(sorted(SearchQueries.bm25TopkFromIndexAsOf(spark, "search_asof_idx", path, 2L)) ==
      sorted(SearchQueries.bm25TopkFromIndex(spark, "search_asof_idx", path)))
    // a never-committed epoch fails loudly
    intercept[IllegalArgumentException] {
      SearchQueries.bm25TopkFromIndexAsOf(spark, "search_asof_idx", path, 9L)
    }
    // vacuum reclaims v1's superseded stats dir → travel to v1 now fails
    // LOUDLY (missing dir), never silently wrong; v2 (current) still fine
    graft.sources.Tombstones.vacuum(spark, path)
    intercept[Exception] {
      sorted(SearchQueries.bm25TopkFromIndexAsOf(spark, "search_asof_idx", path, 1L))
    }
    assert(sorted(SearchQueries.bm25TopkFromIndexAsOf(spark, "search_asof_idx", path, 2L)) ==
      sorted(SearchQueries.bm25TopkFromIndex(spark, "search_asof_idx", path)))
    // ---- IVF twin ------------------------------------------------------
    val ip = s"$tmp/ivf_asof"
    SimilarityQueries.writeIvfIndex(spark, sfDir, ip)
    val probe0 = sorted(SimilarityQueries.ivfTopkFromIndex(spark, sfDir, ip))
    SimilarityQueries.deleteFromIvfIndex(spark, ip,
      Tables.embeddings(spark, sfDir).filter(col("vec_id") % 13 === 7)
        .select("vec_id").collect().map(_.getLong(0)).toSeq)                     // v1
    assert(sorted(SimilarityQueries.ivfTopkFromIndexAsOf(spark, sfDir, ip, 0L)) == probe0)
    assert(sorted(SimilarityQueries.ivfTopkFromIndexAsOf(spark, sfDir, ip, 1L)) ==
      sorted(SparkEntry.queries("ann_ivf_deleted")(spark, sfDir)))
  }

  test("a lost manifest race fails loudly, never last-writer-wins") {
    // the single-writer discipline's enforcement: two writers that both
    // templated the same next version cannot both land it — the loser's
    // commit throws instead of silently clobbering the winner's epoch
    val m = graft.sources.IndexManifest
    val anchor = s"$tmp/race_idx"
    val e1 = m.next(spark, anchor)
    val e1b = m.next(spark, anchor) // a concurrent writer's identical template
    m.commit(spark, anchor, e1.copy(stats = Some(s"$anchor/winner")))
    val err = intercept[IllegalArgumentException] {
      m.commit(spark, anchor, e1b.copy(stats = Some(s"$anchor/loser")))
    }
    assert(err.getMessage.contains("single-writer"), err.getMessage)
    // the winner's epoch is untouched
    assert(m.current(spark, anchor).flatMap(_.stats).contains(s"$anchor/winner"))
  }

  // ---- crash injection at the manifest commit boundary --------------------
  // Every lifecycle mutation prepares its files first and lands them with
  // ONE IndexManifest.commit. These tests kill the writer at exactly that
  // boundary (all prepared files durable, pointer missing) and prove a
  // probe always sees a consistent epoch — the closure of the r14-verdict
  // stats-swap/tombstone and rename crash windows. The injected crash
  // fires before the exclusive-create landing, so each retry also runs
  // requireDestFree and the landing itself.

  test("crash injection: a delete that dies before its commit changes nothing; its retry lands exactly once") {
    import graft.operators.SearchQueries
    val path = s"$tmp/search_crash"
    val tbl = "search_crash_idx"
    SearchQueries.writeSearchIndex(spark, sfDir, tbl, path)
    val before = sorted(SearchQueries.bm25TopkFromIndex(spark, tbl, path))
    val deleted = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 7 === 3)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    graft.sources.IndexManifest.failCommitCountdown = 0
    val e = intercept[RuntimeException] {
      SearchQueries.deleteFromSearchIndex(spark, tbl, path, deleted)
    }
    assert(e.getMessage.contains("injected crash"), e.getMessage)
    // the decremented stats dir and the tombstone fragment are on disk but
    // unreferenced: probes resolve the PREVIOUS epoch — neither the
    // old-code stats-new/tombstone-old skew nor any partial takedown
    assert(sorted(SearchQueries.bm25TopkFromIndex(spark, tbl, path)) == before)
    assert(graft.sources.Tombstones.idSet(spark, path).isEmpty)
    // the retry recomputes the decrement FROM the old epoch, so it cannot
    // double-decrement (the hazard of the pre-manifest ordering, where a
    // crashed delete left stats already decremented)
    SearchQueries.deleteFromSearchIndex(spark, tbl, path, deleted)
    val after = sorted(SearchQueries.bm25TopkFromIndex(spark, tbl, path))
    assert(after == sorted(SparkEntry.queries("search_bm25_deleted")(spark, sfDir)))
  }

  test("crash injection: a buffered update batch that dies before its commit changes nothing") {
    // the batched-update atom: tombstone + delta rows + advanced stats
    // land together or not at all — a crashed buffer call leaves probes
    // on the previous epoch, and its retry lands exactly once
    import graft.operators.SearchQueries
    val path = s"$tmp/search_bufcrash"
    val tbl = "search_bufcrash_idx"
    SearchQueries.writeSearchIndex(spark, sfDir, tbl, path)
    val before = sorted(SearchQueries.bm25TopkFromIndex(spark, tbl, path))
    val upd = Tables.documents(spark, sfDir).filter(col("doc_id") % 13 === 2)
      .select(col("doc_id"), concat(col("text"), lit(" zulu")).as("text"), col("lang"))
    graft.sources.IndexManifest.failCommitCountdown = 0
    intercept[RuntimeException] {
      SearchQueries.bufferSearchUpdate(spark, tbl, path, upd)
    }
    assert(sorted(SearchQueries.bm25TopkFromIndex(spark, tbl, path)) == before)
    assert(graft.sources.Tombstones.deltaFrame(spark, path).isEmpty)
    SearchQueries.bufferSearchUpdate(spark, tbl, path, upd)
    val updCorpus = Tables.documents(spark, sfDir)
      .filter(!(col("doc_id") % 13 === 2)).select("doc_id", "text", "lang")
      .unionByName(upd)
    assert(sorted(SearchQueries.bm25TopkFromIndex(spark, tbl, path)) ==
      sorted(SearchQueries.bm25OverDocs(spark, updCorpus)))
  }

  test("crash injection: a compaction that dies before its commit leaves probes on the old (data, tombstones) pair") {
    import graft.operators.SimilarityQueries
    val path = s"$tmp/ivf_crash"
    SimilarityQueries.writeIvfIndex(spark, sfDir, path)
    val deleted = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") % 13 === 7)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    SimilarityQueries.deleteFromIvfIndex(spark, path, deleted)
    val probed = sorted(SimilarityQueries.ivfTopkFromIndex(spark, sfDir, path))
    graft.sources.IndexManifest.failCommitCountdown = 0
    intercept[RuntimeException] { SimilarityQueries.compactIvfIndex(spark, path) }
    // the compacted epoch dir exists but is unreferenced: the probe still
    // resolves the old data dir AND the live tombstones — consistent, and
    // identical to the pre-crash state (the old-code rename sequence could
    // die with the index directory moved aside, i.e. MISSING)
    assert(graft.sources.Tombstones.idSet(spark, path).nonEmpty)
    assert(sorted(SimilarityQueries.ivfTopkFromIndex(spark, sfDir, path)) == probed)
    // the retry re-prepares under the same (never-committed) epoch name
    // and lands: tombstones folded, probe unchanged
    SimilarityQueries.compactIvfIndex(spark, path)
    assert(graft.sources.Tombstones.idSet(spark, path).isEmpty)
    assert(sorted(SimilarityQueries.ivfTopkFromIndex(spark, sfDir, path)) == probed)
  }

  test("crash injection: a search compaction dying at either commit stays consistent, as-of never silently wrong") {
    import graft.operators.SearchQueries
    val path = s"$tmp/search_crash2"
    val tbl = "search_crash2_idx"
    SearchQueries.writeSearchIndex(spark, sfDir, tbl, path)
    val deleted = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 7 === 3)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    SearchQueries.deleteFromSearchIndex(spark, tbl, path, deleted)
    val probed = sorted(SearchQueries.bm25TopkFromIndex(spark, tbl, path))
    val asof0 = sorted(SearchQueries.bm25TopkFromIndexAsOf(
      spark, tbl, path, 0L))
    // WINDOW 1 — die at the pre-swap generation bump (the compaction's
    // first commit, after the rewrite is prepared): the table is
    // unchanged, tombstones still mask, as-of still serves — nothing
    // happened, and the retry goes through
    graft.sources.IndexManifest.failCommitCountdown = 0
    intercept[RuntimeException] {
      SearchQueries.compactSearchIndex(spark, tbl, path)
    }
    assert(graft.sources.Tombstones.idSet(spark, path).nonEmpty)
    assert(sorted(SearchQueries.bm25TopkFromIndex(spark, tbl, path)) == probed)
    assert(sorted(SearchQueries.bm25TopkFromIndexAsOf(
      spark, tbl, path, 0L)) == asof0)
    // WINDOW 2 — the bump lands, the catalog swap lands, the
    // tombstone-clearing commit dies: tombstones are still listed but
    // their rows are physically gone, so the anti-join masks nothing and
    // live probes stay exact — and because the bump landed BEFORE the
    // swap, an as-of read across the boundary REFUSES loudly instead of
    // returning the compacted table as the build state (the silent-wrong
    // window the bump ordering closes)
    graft.sources.IndexManifest.failCommitCountdown = 1
    intercept[RuntimeException] {
      SearchQueries.compactSearchIndex(spark, tbl, path)
    }
    assert(graft.sources.Tombstones.idSet(spark, path).nonEmpty)
    assert(sorted(SearchQueries.bm25TopkFromIndex(spark, tbl, path)) == probed)
    val err = intercept[IllegalArgumentException] {
      SearchQueries.bm25TopkFromIndexAsOf(spark, tbl, path, 0L)
    }
    assert(err.getMessage.contains("generation"), err.getMessage)
    // finishing the interrupted step (the clearing commit — the gen bump
    // already landed pre-swap) changes nothing
    graft.sources.Tombstones.clear(spark, path)
    assert(graft.sources.Tombstones.idSet(spark, path).isEmpty)
    assert(sorted(SearchQueries.bm25TopkFromIndex(spark, tbl, path)) == probed)
  }

  test("vacuum called with a differently-spelled anchor never false-deletes live artifacts") {
    // the review-found corruption path, pinned shut: the manifest stores
    // paths as the writers spelled them ('/x/...'), and a vacuum called
    // with 'file:/x/...' resolves the SAME physical dirs — a raw string
    // keep-set comparison would pass every live artifact through the
    // filter and delete it (here: the still-live f1 fragment, whose loss
    // would un-mask a committed takedown)
    import graft.operators.SearchQueries
    val t = graft.sources.Tombstones
    val path = s"$tmp/search_vacuri"
    SearchQueries.writeSearchIndex(spark, sfDir, "search_vacuri_idx", path)
    val ids = Tables.documents(spark, sfDir).filter(col("doc_id") % 7 === 3)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    SearchQueries.deleteFromSearchIndex(spark, "search_vacuri_idx", path,
      ids.take(ids.size / 2))                                             // v1: stats_e1 + f1
    SearchQueries.deleteFromSearchIndex(spark, "search_vacuri_idx", path,
      ids.drop(ids.size / 2))                                             // v2: stats_e2 + f2
    val before = sorted(SearchQueries.bm25TopkFromIndex(spark, "search_vacuri_idx", path))
    def exists(p: String) = new java.io.File(p).exists()
    assert(exists(s"${t.sidecar(path)}/f1") && exists(s"${path}_stats_e1"))
    val reclaimed = t.vacuum(spark, s"file:$path")
    assert(reclaimed >= 1, s"reclaimed $reclaimed")
    // the superseded stats dir is gone; the LIVE v1 fragment survived
    assert(!exists(s"${path}_stats_e1"), "superseded stats must reclaim across spellings")
    assert(exists(s"${t.sidecar(path)}/f1"), "a live fragment must never false-delete")
    assert(sorted(SearchQueries.bm25TopkFromIndex(spark, "search_vacuri_idx", path)) == before)
  }

  test("rebuilding over a lived-in anchor reclaims the previous life's epoch artifacts") {
    // the review-found leak, pinned shut: reset used to drop only the
    // manifest — the epoch-named data/stats dirs it referenced became
    // permanently unreachable garbage (vacuum is a no-op once the
    // manifest is gone). A rebuild must leave no previous-life artifacts.
    import graft.operators.{SearchQueries, SimilarityQueries}
    def exists(p: String) = new java.io.File(p).exists()
    val ip = s"$tmp/ivf_rebuild"
    SimilarityQueries.writeIvfIndex(spark, sfDir, ip)
    SimilarityQueries.deleteFromIvfIndex(spark, ip, Seq(17L)) // v1
    SimilarityQueries.compactIvfIndex(spark, ip)              // v2: data at __e2
    assert(exists(s"${ip}__e2"))
    SimilarityQueries.writeIvfIndex(spark, sfDir, ip)         // rebuild = reset + write
    assert(!exists(s"${ip}__e2"), "the previous life's data epoch must reclaim")
    assert(sorted(SimilarityQueries.ivfTopkFromIndex(spark, sfDir, ip)).nonEmpty)
    val sp = s"$tmp/search_rebuild"
    SearchQueries.writeSearchIndex(spark, sfDir, "search_rebuild_idx", sp)
    SearchQueries.deleteFromSearchIndex(spark, "search_rebuild_idx", sp, Seq(3L)) // v1: stats_e1
    assert(exists(s"${sp}_stats_e1"))
    SearchQueries.writeSearchIndex(spark, sfDir, "search_rebuild_idx", sp)
    assert(!exists(s"${sp}_stats_e1"), "the previous life's stats epoch must reclaim")
    assert(sorted(SearchQueries.bm25TopkFromIndex(spark, "search_rebuild_idx", sp)) ==
      sorted(SparkEntry.queries("search_bm25_topk")(spark, sfDir)))
  }

  test("exactly-once ingest: batches land once, replays no-op across folds, probe equals full build") {
    // the LSM ingest route closes appendSearchIndex's two documented
    // hazards: each batch is ONE atomic manifest commit (rows + stats +
    // high-water mark), so a replayed batch id is a no-op — even after a
    // compaction folded its rows into the base, because the mark rides
    // through the fold
    import graft.operators.{SearchQueries, SimilarityQueries}
    val path = s"$tmp/search_ingest"
    SearchQueries.writeSearchIndexWhere(
      spark, sfDir, "search_ingest_idx", path, col("doc_id") % 3 === 0)
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text", "lang")
    val b1 = docs.filter(col("doc_id") % 3 === 1)
    val b2 = docs.filter(col("doc_id") % 3 === 2)
    assert(SearchQueries.ingestSearchBatch(spark, "search_ingest_idx", path, b1, 0L))
    assert(SearchQueries.ingestSearchBatch(spark, "search_ingest_idx", path, b2, 1L))
    val probe = sorted(SearchQueries.bm25TopkFromIndex(spark, "search_ingest_idx", path))
    // bootstrap third + two ingested thirds == the full-corpus ranking
    assert(probe == sorted(SparkEntry.queries("search_bm25_topk")(spark, sfDir)))
    // at-least-once redelivery of either batch: fenced, nothing changes
    assert(!SearchQueries.ingestSearchBatch(spark, "search_ingest_idx", path, b1, 0L))
    assert(!SearchQueries.ingestSearchBatch(spark, "search_ingest_idx", path, b2, 1L))
    assert(sorted(SearchQueries.bm25TopkFromIndex(spark, "search_ingest_idx", path)) == probe)
    // the mark survives the fold: a post-compaction replay still skips
    SearchQueries.compactSearchIndex(spark, "search_ingest_idx", path)
    assert(!SearchQueries.ingestSearchBatch(spark, "search_ingest_idx", path, b2, 1L))
    assert(sorted(SearchQueries.bm25TopkFromIndex(spark, "search_ingest_idx", path)) == probe)
    // a batch BEYOND the mark lands normally
    assert(SearchQueries.ingestSearchBatch(spark, "search_ingest_idx", path,
      docs.limit(2).select(col("doc_id") + 3000000L as "doc_id", col("text"), col("lang")), 2L))
    // a DIFFERENT stream lineage restarts batch ids from 0 — fencing it
    // would silently drop never-ingested docs, so it refuses loudly; the
    // deliberate fence reset is the operator's override
    val le = intercept[IllegalArgumentException] {
      SearchQueries.ingestSearchBatch(spark, "search_ingest_idx", path, b1, 0L,
        streamId = "other-checkpoint")
    }
    assert(le.getMessage.contains("lineage"), le.getMessage)
    graft.sources.Tombstones.resetIngestFence(spark, path)
    assert(SearchQueries.ingestSearchBatch(spark, "search_ingest_idx", path,
      docs.limit(1).select(col("doc_id") + 4000000L as "doc_id", col("text"), col("lang")),
      0L, streamId = "other-checkpoint"))
    // ---- IVF twin ------------------------------------------------------
    val ip = s"$tmp/ivf_ingest"
    SimilarityQueries.writeIvfIndexWhere(spark, sfDir, ip, col("vec_id") % 2 === 0)
    val em = Tables.embeddings(spark, sfDir)
    val v1 = em.filter(col("vec_id") % 4 === 1)
    val v2 = em.filter(col("vec_id") % 4 === 3)
    assert(SimilarityQueries.ingestIvfBatch(spark, sfDir, ip, v1, 0L))
    assert(SimilarityQueries.ingestIvfBatch(spark, sfDir, ip, v2, 1L))
    val iprobe = sorted(SimilarityQueries.ivfTopkFromIndex(spark, sfDir, ip))
    assert(iprobe == sorted(SparkEntry.queries("ann_ivf_topk")(spark, sfDir)))
    assert(!SimilarityQueries.ingestIvfBatch(spark, sfDir, ip, v1, 1L)) // ≤ mark
    assert(sorted(SimilarityQueries.ivfTopkFromIndex(spark, sfDir, ip)) == iprobe)
    SimilarityQueries.compactIvfIndex(spark, ip)
    assert(!SimilarityQueries.ingestIvfBatch(spark, sfDir, ip, v2, 1L))
    assert(sorted(SimilarityQueries.ivfTopkFromIndex(spark, sfDir, ip)) == iprobe)
  }

  test("epoch clones serve their frozen state forever, surviving the boundaries that kill as-of") {
    // the durable half of time travel: an as-of read dies at the next
    // compaction (generation boundary); a clone owns a bucketed copy of
    // the epoch's visible rows + stats and keeps serving that exact
    // corpus state — the "pin the index the model trained on" freeze
    import graft.operators.{SearchQueries, SimilarityQueries}
    val path = s"$tmp/search_clone_src"
    SearchQueries.writeSearchIndex(spark, sfDir, "search_clone_src", path)
    SearchQueries.deleteFromSearchIndex(spark, "search_clone_src", path,
      Tables.documents(spark, sfDir).filter(col("doc_id") % 7 === 3)
        .select("doc_id").collect().map(_.getLong(0)).toSeq)           // v1
    SearchQueries.bufferSearchUpdate(spark, "search_clone_src", path,
      Tables.documents(spark, sfDir)
        .filter(col("doc_id") % 13 === 2 && col("doc_id") % 7 =!= 3)
        .select(col("doc_id"), concat(col("text"), lit(" zulu")).as("text"),
          col("lang")))                                                 // v2
    val c1 = s"$tmp/search_clone_v1"
    SearchQueries.cloneSearchIndexAsOf(
      spark, "search_clone_src", path, 1L, "search_clone_v1", c1)
    val deleted = sorted(SparkEntry.queries("search_bm25_deleted")(spark, sfDir))
    // the v1 clone == the post-takedown registered ranking (== a rebuild
    // over the survivors: the clone has no manifest, no tombstones)
    assert(sorted(SearchQueries.bm25TopkFromIndex(spark, "search_clone_v1", c1)) == deleted)
    assert(graft.sources.IndexManifest.current(spark, c1).isEmpty)
    // the v2 clone (open update window) == the live probe's base∪delta view
    val c2 = s"$tmp/search_clone_v2"
    SearchQueries.cloneSearchIndexAsOf(
      spark, "search_clone_src", path, 2L, "search_clone_v2", c2)
    assert(sorted(SearchQueries.bm25TopkFromIndex(spark, "search_clone_v2", c2)) ==
      sorted(SearchQueries.bm25TopkFromIndex(spark, "search_clone_src", path)))
    // the compaction KILLS the as-of read (gen boundary) — the clone
    // keeps serving the frozen epoch
    SearchQueries.compactSearchIndex(spark, "search_clone_src", path)
    intercept[IllegalArgumentException] {
      SearchQueries.bm25TopkFromIndexAsOf(spark, "search_clone_src", path, 1L)
    }
    assert(sorted(SearchQueries.bm25TopkFromIndex(spark, "search_clone_v1", c1)) == deleted)
    // ---- IVF twin ------------------------------------------------------
    val ip = s"$tmp/ivf_clone_src"
    SimilarityQueries.writeIvfIndex(spark, sfDir, ip)
    SimilarityQueries.deleteFromIvfIndex(spark, ip,
      Tables.embeddings(spark, sfDir).filter(col("vec_id") % 13 === 7)
        .select("vec_id").collect().map(_.getLong(0)).toSeq)           // v1
    val ic = s"$tmp/ivf_clone_v1"
    SimilarityQueries.cloneIvfIndexAsOf(spark, ip, 1L, ic)
    val idel = sorted(SparkEntry.queries("ann_ivf_deleted")(spark, sfDir))
    assert(sorted(SimilarityQueries.ivfTopkFromIndex(spark, sfDir, ic)) == idel)
    SimilarityQueries.compactIvfIndex(spark, ip)
    intercept[IllegalArgumentException] {
      SimilarityQueries.ivfTopkFromIndexAsOf(spark, sfDir, ip, 1L)
    }
    assert(sorted(SimilarityQueries.ivfTopkFromIndex(spark, sfDir, ic)) == idel)
    // re-cloning over a lived-in destTable reclaims the previous freeze's
    // files (DROP on an external table leaves them; no manifest backs a
    // clone, so nothing else could ever collect them)
    val cur = graft.sources.IndexManifest.current(spark, path).get.version
    val c1b = s"$tmp/search_clone_v1b"
    SearchQueries.cloneSearchIndexAsOf(
      spark, "search_clone_src", path, cur, "search_clone_v1", c1b)
    assert(!new java.io.File(c1).exists(), "the superseded freeze must reclaim")
    assert(!new java.io.File(s"${c1}_stats").exists())
    assert(sorted(SearchQueries.bm25TopkFromIndex(spark, "search_clone_v1", c1b)) ==
      sorted(SearchQueries.bm25TopkFromIndex(spark, "search_clone_src", path)))
  }

  test("needsCompaction closes the policy loop over the debt audit") {
    // the audit's consumer: fold when the masked fraction or the open
    // window passes its threshold — fresh index never triggers, a ~1/7
    // takedown trips the default 10% mask rule (but not a 50% one), one
    // buffered batch trips a window-of-1 rule, and the fold resets both
    import graft.operators.SearchQueries
    val t = graft.sources.Tombstones
    val path = s"$tmp/search_policy"
    SearchQueries.writeSearchIndex(spark, sfDir, "search_policy_idx", path)
    def need(ppm: Long = 100000L, db: Long = 8L) =
      t.needsCompaction("search", spark.table("search_policy_idx"), path, "doc_id",
        maxMaskedPpm = ppm, maxDeltaBatches = db)
    assert(!need())
    SearchQueries.deleteFromSearchIndex(spark, "search_policy_idx", path,
      Tables.documents(spark, sfDir).filter(col("doc_id") % 7 === 3)
        .select("doc_id").collect().map(_.getLong(0)).toSeq)
    assert(need(), "a ~1/7 takedown must trip the 10% mask rule")
    assert(!need(ppm = 500000L), "but not a 50% one")
    SearchQueries.bufferSearchUpdate(spark, "search_policy_idx", path,
      Tables.documents(spark, sfDir)
        .filter(col("doc_id") % 13 === 2 && col("doc_id") % 7 =!= 3)
        .select(col("doc_id"), concat(col("text"), lit(" echo")).as("text"), col("lang")))
    // ppm = 2_000_000 is unreachable (ppm caps at 1e6): isolates the
    // window trigger
    assert(need(ppm = 2000000L, db = 1L), "one open batch must trip a window-of-1 rule")
    SearchQueries.compactSearchIndex(spark, "search_policy_idx", path)
    assert(!need(db = 1L))
  }

  test("winnow ingest: the fence survives the location-moving fold; batches equal the eager twin") {
    // the third family's exactly-once ingest — winnow's compaction MOVES
    // the table location (and with it the manifest anchor), so the fence
    // must be re-committed at the new location or a post-fold replay
    // would re-ingest an already-folded batch
    import graft.operators.DedupQueries
    val thr = DedupQueries.writeWinnowIndex(
      spark, sfDir, "winnow_ing_a", s"$tmp/winnow_ing_a")
    DedupQueries.writeWinnowIndex(spark, sfDir, "winnow_ing_b", s"$tmp/winnow_ing_b")
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val b1 = docs.filter(col("doc_id") % 13 === 1 && col("doc_id") < thr)
      .select(col("doc_id") + 5000000L as "doc_id", col("text"))
    val b2 = docs.filter(col("doc_id") % 13 === 4 && col("doc_id") < thr)
      .select(col("doc_id") + 6000000L as "doc_id", col("text"))
    assert(DedupQueries.ingestWinnowBatch(b1, "winnow_ing_a", 0L))
    assert(DedupQueries.ingestWinnowBatch(b2, "winnow_ing_a", 1L))
    DedupQueries.bufferWinnowUpdate(b1, "winnow_ing_b")
    DedupQueries.bufferWinnowUpdate(b2, "winnow_ing_b")
    def frame(t: String) = sorted(DedupQueries.winnowIndexFrame(spark, t))
    assert(frame("winnow_ing_a").nonEmpty &&
      frame("winnow_ing_a") == frame("winnow_ing_b"))
    // replay within the lineage: fenced
    assert(!DedupQueries.ingestWinnowBatch(b1, "winnow_ing_a", 0L))
    // crash injection: the fold dies at the fence-carry commit (which
    // lands at the DESTINATION before the swap) — the old location is
    // still what readers resolve, its fence still stands, and the
    // retried fold goes through
    graft.sources.IndexManifest.failCommitCountdown = 0
    intercept[RuntimeException] {
      DedupQueries.compactWinnowIndex(spark, "winnow_ing_a")
    }
    assert(!DedupQueries.ingestWinnowBatch(b1, "winnow_ing_a", 0L),
      "a replay must still fence after a crashed fold")
    assert(frame("winnow_ing_a") == frame("winnow_ing_b"))
    // the fold moves the location — the fence must ride along
    DedupQueries.compactWinnowIndex(spark, "winnow_ing_a")
    assert(!DedupQueries.ingestWinnowBatch(b2, "winnow_ing_a", 1L),
      "a post-fold replay must still fence")
    assert(frame("winnow_ing_a") == frame("winnow_ing_b"))
    // a different lineage refuses loudly even after the move
    val e = intercept[IllegalArgumentException] {
      DedupQueries.ingestWinnowBatch(b1, "winnow_ing_a", 0L, streamId = "other")
    }
    assert(e.getMessage.contains("lineage"), e.getMessage)
  }

  test("manifest log over a live index equals the registered report; fold and fence rows surface") {
    import graft.operators.SearchQueries
    val t = graft.sources.Tombstones
    val path = s"$tmp/search_mlog"
    SearchQueries.writeSearchIndex(spark, sfDir, "search_mlog_idx", path)
    val docs = Tables.documents(spark, sfDir)
    SearchQueries.deleteFromSearchIndex(spark, "search_mlog_idx", path,
      docs.filter(col("doc_id") % 7 === 3).select("doc_id").collect().map(_.getLong(0)).toSeq)
    SearchQueries.bufferSearchUpdate(spark, "search_mlog_idx", path,
      docs.filter(col("doc_id") % 13 === 2 && col("doc_id") % 7 =!= 3)
        .select(col("doc_id"), concat(col("text"), lit(" zulu")).as("text"), col("lang")))
    assert(SearchQueries.ingestSearchBatch(spark, "search_mlog_idx", path,
      docs.filter(col("doc_id") % 11 === 5)
        .select(col("doc_id") + 2000000L as "doc_id", col("text"), col("lang")), 7L))
    // v4: the insert-only atomic append — no fragment, hwm rides along
    SearchQueries.appendSearchIndex(spark, "search_mlog_idx", path,
      docs.filter(col("doc_id") % 9 === 4)
        .select(col("doc_id") + 3000000L as "doc_id", col("text"), col("lang")))
    // the live manifest's log == the registered fixed-scenario report
    assert(sorted(t.manifestLog(spark, path)) ==
      sorted(SparkEntry.queries("q_index_manifest_log")(spark, sfDir)))
    // the fold: the pre-swap generation fence and the clearing epoch both
    // surface with the diff-derived kinds
    SearchQueries.compactSearchIndex(spark, "search_mlog_idx", path)
    val log = t.manifestLog(spark, path).orderBy("version").collect()
    assert(log.length == 6, log.toSeq)
    assert(log(4).getString(1) == "base_mutation" && log(4).getLong(2) == 1L, log(4))
    assert(log(5).getString(1) == "fold" && log(5).getLong(3) == 0L &&
      log(5).getLong(4) == 0L, log(5))
    // the high-water mark rode through all three
    assert(log(5).getLong(6) == 7L, log(5))
    // an insert-only append reads 'append' (delta, no fragment, no fence
    // move); the fold that retires it reads 'fold' (the data pointer moved)
    import graft.operators.SimilarityQueries
    val ip = s"$tmp/ivf_mlog"
    SimilarityQueries.writeIvfIndex(spark, sfDir, ip)
    SimilarityQueries.appendIvfIndex(spark, sfDir, ip,
      Tables.embeddings(spark, sfDir).limit(3)
        .select(col("vec_id") + 3000000L as "vec_id", col("embedding"), col("label")))
    SimilarityQueries.compactIvfIndex(spark, ip)
    val ilog = t.manifestLog(spark, ip).orderBy("version").collect()
    assert(ilog.map(_.getString(1)).toSeq == Seq("append", "fold"), ilog.toSeq)
  }

  test("crash injection: an append dying before its one commit changes nothing") {
    // the append is ONE commit now (rows + stats land together), so the
    // old postings-landed/stats-old window cannot exist: a crash at the
    // atomicity boundary leaves the prepared delta and stats dirs
    // unreferenced, live probes on the previous epoch, and as-of reads
    // serving — and the RETRY succeeds cleanly over the old state
    import graft.operators.SearchQueries
    val path = s"$tmp/search_crash3"
    val tbl = "search_crash3_idx"
    SearchQueries.writeSearchIndex(spark, sfDir, tbl, path)
    val asof0 = sorted(SearchQueries.bm25TopkFromIndexAsOf(
      spark, tbl, path, 0L))
    assert(asof0.nonEmpty)
    val live0 = sorted(SearchQueries.bm25TopkFromIndex(spark, tbl, path))
    val batch = Tables.documents(spark, sfDir).limit(3)
      .select(col("doc_id") + 7000000L as "doc_id", col("text"), col("lang"))
    graft.sources.IndexManifest.failCommitCountdown = 0
    intercept[RuntimeException] {
      SearchQueries.appendSearchIndex(spark, tbl, path, batch)
    }
    assert(sorted(SearchQueries.bm25TopkFromIndex(
      spark, tbl, path)) == live0)
    assert(sorted(SearchQueries.bm25TopkFromIndexAsOf(
      spark, tbl, path, 0L)) == asof0)
    // the retry lands, and the appended ids serve
    SearchQueries.appendSearchIndex(spark, tbl, path, batch)
    assert(SearchQueries.visiblePostings(spark, tbl, path)
      .filter(col("doc_id") >= 7000000L).select("doc_id").distinct().count() == 3)
    // and as-of travel below the landed append still reproduces the build
    assert(sorted(SearchQueries.bm25TopkFromIndexAsOf(
      spark, tbl, path, 0L)) == asof0)
  }

  test("band-index buffered ingest: base∪delta probes equal a rebuilt index; the fold retires the window") {
    import graft.operators.DedupQueries
    val thr = DedupQueries.writeBandIndex(spark, sfDir, "band_ing_idx", s"$tmp/band_ing")
    val d = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val arriving = d.filter(col("doc_id") >= thr)
    val b1 = arriving.filter(col("doc_id") % 2 === 0)
    val b2 = arriving.filter(col("doc_id") % 2 === 1)
    def probe(): Seq[org.apache.spark.sql.Row] = {
      val batchBands = DedupQueries.bandKeysOf(DedupQueries.signaturesOf(
        d.filter(col("doc_id") < thr && col("doc_id") % 17 === 3)))
      batchBands.join(
          DedupQueries.bandIndexFrame(spark, "band_ing_idx")
            .select(col("doc_id").as("c_id"), col("bk")), "bk")
        .select("doc_id", "c_id").distinct()
        .orderBy("doc_id", "c_id").collect().toSeq
    }
    def inline(corpus: org.apache.spark.sql.DataFrame): Seq[org.apache.spark.sql.Row] = {
      val all = DedupQueries.bandKeysOf(DedupQueries.signaturesOf(corpus))
      DedupQueries.bandKeysOf(DedupQueries.signaturesOf(
          d.filter(col("doc_id") < thr && col("doc_id") % 17 === 3)))
        .join(all.select(col("doc_id").as("c_id"), col("bk")), "bk")
        .select("doc_id", "c_id").distinct()
        .orderBy("doc_id", "c_id").collect().toSeq
    }
    DedupQueries.bufferBandUpdate(b1, "band_ing_idx")
    val after1 = probe()
    assert(after1 == inline(d.filter(col("doc_id") < thr).unionByName(b1)))
    // a crashed buffer changes nothing — the prepared delta is never named
    graft.sources.IndexManifest.failCommitCountdown = 0
    intercept[RuntimeException] { DedupQueries.bufferBandUpdate(b2, "band_ing_idx") }
    assert(probe() == after1)
    DedupQueries.bufferBandUpdate(b2, "band_ing_idx")
    val after2 = probe()
    assert(after2 == inline(d))
    // deleting an id with a buffered batch outstanding fails loudly
    // (picked from the shingle-able docs — short docs own no index rows)
    val buffered = b2.filter(size(split(col("text"), " ")) >= 3)
      .select("doc_id").limit(1).collect().head.getLong(0)
    val clash = intercept[IllegalArgumentException] {
      DedupQueries.deleteFromBandIndex(spark, "band_ing_idx", Seq(buffered))
    }
    assert(clash.getMessage.contains("compactBandIndex"), clash.getMessage)
    // the fold: window retired, rows physical, probe unchanged
    DedupQueries.compactBandIndex(spark, "band_ing_idx")
    val anchor = graft.sources.Tombstones.tableLocation(spark, "band_ing_idx")
    assert(graft.sources.IndexManifest.current(spark, anchor)
      .forall(e => e.deltas.isEmpty && e.tombstones.isEmpty))
    assert(probe() == after2)
    assert(spark.table("band_ing_idx")
      .filter(col("doc_id") === buffered).count() > 0)
    // and the folded id is deletable now
    DedupQueries.deleteFromBandIndex(spark, "band_ing_idx", Seq(buffered))
    assert(DedupQueries.bandIndexFrame(spark, "band_ing_idx")
      .filter(col("doc_id") === buffered).count() == 0)
  }

  test("phash buffered ingest: re-hashed signatures land atomically; probes equal the inline union") {
    import graft.operators.{Multimodal, MultimodalQueries}
    MultimodalQueries.writePhashIndex(spark, sfDir, "phash_ing_idx", s"$tmp/phash_ing")
    val base = Multimodal.documentsAsAssets(spark, sfDir)
    // fresh ids BELOW the 1e6 variant offset (the guard must admit these);
    // deterministic filters, not limit() — the batch frame re-evaluates
    val batch = base.filter(col("asset_id") % 13 === 2).select(
      col("asset_id") + 400000L as "asset_id", col("payload"), col("format"))
    val probeKeys = MultimodalQueries.phashBandKeys(
      Multimodal.perceptualHash(
        base.filter(col("asset_id") % 13 === 2 || col("asset_id") % 17 === 3).select(
          col("asset_id") + 800000L as "asset_id", col("payload"), col("format"))).toDF())
    def probe() = MultimodalQueries.phashProbePairs(
        probeKeys, MultimodalQueries.phashIndexFrame(spark, "phash_ing_idx"))
      .orderBy("asset_id", "src_id").collect().toSeq
    val before = probe()
    MultimodalQueries.bufferPhashUpdate(batch, "phash_ing_idx")
    val after = probe()
    val inlineKeys = MultimodalQueries.phashBandKeys(
      Multimodal.perceptualHash(base.unionByName(batch)).toDF())
    val expect = MultimodalQueries.phashProbePairs(probeKeys, inlineKeys)
      .orderBy("asset_id", "src_id").collect().toSeq
    assert(after == expect && after != before,
      s"ingested signatures must serve (${after.size} vs ${expect.size})")
    // the variant-offset id bound holds at the ingest entry too
    val bad = intercept[IllegalArgumentException] {
      MultimodalQueries.bufferPhashUpdate(
        base.limit(1).select(col("asset_id") + 2000000L as "asset_id",
          col("payload"), col("format")), "phash_ing_idx")
    }
    assert(bad.getMessage.contains("1e6"), bad.getMessage)
    // fold parity
    MultimodalQueries.compactPhashIndex(spark, "phash_ing_idx")
    assert(probe() == after)
  }

  test("prefix-index buffered ingest under the frozen order: verified pairs equal the content pipeline") {
    import graft.operators.DedupQueries
    val thr = DedupQueries.writePrefixIndex(
      spark, sfDir, "prefix_ing_idx", s"$tmp/prefix_ing")
    val d = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val corpus = d.filter(col("doc_id") < thr)
    // ingest batches TEXT-DISJOINT from the corpus (an ingested duplicate
    // text deliberately becomes a second representative — the jac=10000
    // verdict is the probe's job — so rebuild-parity needs disjoint text)
    val corpusTexts = corpus.select(md5(col("text")).as("h")).distinct()
    val arriving = d.filter(col("doc_id") >= thr)
      .join(corpusTexts, md5(col("text")) === col("h"), "left_anti")
      .select("doc_id", "text")
    val b1 = arriving.filter(col("doc_id") % 2 === 0)
    val b2 = arriving.filter(col("doc_id") % 2 === 1)
    val probeBatch = corpus.filter(col("doc_id") % 17 === 3)
    def probe(): Seq[org.apache.spark.sql.Row] = {
      val (idx, fwd) = DedupQueries.prefixIndexFrames(spark, "prefix_ing_idx")
      DedupQueries.prefixIncrementalPairs(probeBatch, idx, fwd)
        .orderBy("doc_id", "c_id").collect().toSeq
    }
    def inline(all: org.apache.spark.sql.DataFrame): Seq[org.apache.spark.sql.Row] = {
      val rows = DedupQueries.prefixIndexRows(all)
      DedupQueries.prefixIncrementalPairs(probeBatch, rows, rows)
        .orderBy("doc_id", "c_id").collect().toSeq
    }
    DedupQueries.bufferPrefixUpdate(b1, "prefix_ing_idx")
    val after1 = probe()
    // the index ranks under its FROZEN build order, the rebuilt inline
    // under the union's global order — the VERIFIED pair set is exact
    // under both (the prefix lemma's order-indifference, now pinned for
    // ingest as well as delete)
    assert(after1 == inline(corpus.unionByName(b1)))
    assert(after1.nonEmpty, "corpus probe docs must at least pair with their reps")
    DedupQueries.bufferPrefixUpdate(b2, "prefix_ing_idx")
    val after2 = probe()
    assert(after2 == inline(corpus.unionByName(b1).unionByName(b2)))
    // the fold retires the window on BOTH halves; probe parity holds
    DedupQueries.compactPrefixIndex(spark, "prefix_ing_idx")
    val anchor = graft.sources.Tombstones.tableLocation(spark, "prefix_ing_idx")
    assert(graft.sources.IndexManifest.current(spark, anchor)
      .forall(e => e.deltas.isEmpty && e.tombstones.isEmpty))
    assert(probe() == after2)
    // an ingested-then-folded representative is takedown-able, and the
    // delete serves from the next probe (both halves masked); picked from
    // the FWD store so it is guaranteed to be a representative
    val ingested = DedupQueries.prefixIndexFrames(spark, "prefix_ing_idx")._2
      .filter(col("doc_id") >= thr).select("doc_id")
      .limit(1).collect().head.getLong(0)
    DedupQueries.deleteFromPrefixIndex(spark, "prefix_ing_idx", Seq(ingested))
    val (idx3, fwd3) = DedupQueries.prefixIndexFrames(spark, "prefix_ing_idx")
    assert(idx3.filter(col("doc_id") === ingested).count() == 0)
    assert(fwd3.filter(col("doc_id") === ingested).count() == 0)
  }

  test("crash injection: the compaction swap is loud-or-consistent on both sides of its one statement") {
    // the single-statement swap's whole point, staged: a crash BEFORE the
    // ALTER TABLE SET LOCATION leaves the OLD location serving (staged
    // rewrite = reclaimable garbage, retry succeeds); a crash AFTER it
    // leaves the NEW location serving — at no point is the table
    // unresolvable (the old DROP+RENAME pair had exactly that window)
    import graft.operators.DedupQueries
    val t = graft.sources.Tombstones
    val thr = DedupQueries.writeBandIndex(spark, sfDir, "band_swap_idx", s"$tmp/band_swap")
    val d = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val deleted = d.filter(col("doc_id") < thr && col("doc_id") % 11 === 5)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    DedupQueries.deleteFromBandIndex(spark, "band_swap_idx", deleted)
    def probe(): Seq[org.apache.spark.sql.Row] = {
      val batchBands = DedupQueries.bandKeysOf(
        DedupQueries.signaturesOf(d.filter(col("doc_id") >= thr)))
      batchBands.join(
          DedupQueries.bandIndexFrame(spark, "band_swap_idx")
            .select(col("doc_id").as("c_id"), col("bk")), "bk")
        .select("doc_id", "c_id").distinct()
        .orderBy("doc_id", "c_id").collect().toSeq
    }
    val before = probe()
    assert(before.nonEmpty)
    // crash BEFORE the swap: old location serves, tombstones still mask
    t.failBeforeTableSwap = true
    intercept[RuntimeException] { DedupQueries.compactBandIndex(spark, "band_swap_idx") }
    assert(probe() == before)
    assert(t.idSetForTable(spark, "band_swap_idx").nonEmpty,
      "tombstones must still mask after a pre-swap crash")
    // crash AFTER the swap: the new location serves the folded rows
    t.failAfterTableSwap = true
    intercept[RuntimeException] { DedupQueries.compactBandIndex(spark, "band_swap_idx") }
    assert(probe() == before)
    // post-swap the location anchor is fresh: no tombstones outstanding,
    // the masked rows are physically gone
    assert(t.idSetForTable(spark, "band_swap_idx").isEmpty)
    assert(spark.table("band_swap_idx")
      .filter(col("doc_id").isin(deleted.map(i => i: Any): _*)).count() == 0)
    // and a retry over the already-swapped table is a clean no-op fold
    DedupQueries.compactBandIndex(spark, "band_swap_idx")
    assert(probe() == before)
  }

  test("knn-graph ingest: touched-cell recompute equals the seeded rebuild; the fold retires the window") {
    // the LAST index family's ingest: inserts recompute top-3 only in the
    // cells the batch touches, over (standing members ∪ batch) — after
    // every batch the visible rows equal a graph REBUILT over the union
    // under the same frozen geometry (the complete-change-test argument:
    // an insert can change a standing node's top-3 only by admitting a
    // new neighbor)
    import graft.operators.SimilarityQueries
    import graft.functions.VectorOps
    val path = s"$tmp/knn_ing"
    SimilarityQueries.writeKnnGraphWhere(spark, sfDir, path, col("vec_id") < 400)
    val e = VectorOps.normalized(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir)
    val b1 = emb.filter(col("vec_id") >= 400 && col("vec_id") % 2 === 0)
    val b2 = emb.filter(col("vec_id") >= 400 && col("vec_id") % 2 === 1)
    val probeCols = Seq("vec_id", "rank", "nbr_id", "cos", "cell")
    def vis(): Seq[org.apache.spark.sql.Row] =
      SimilarityQueries.graphRowsVisibleOf(spark,
          graft.sources.IndexManifest.current(spark, path), path)
        .select(probeCols.map(col): _*)
        .orderBy(probeCols.map(col): _*).collect().toSeq
    def reb(pred: org.apache.spark.sql.Column): Seq[org.apache.spark.sql.Row] =
      SimilarityQueries.graphIndexRowsSeeded(
          e.filter(pred), SimilarityQueries.seedSet(e))
        .select(probeCols.map(col): _*)
        .orderBy(probeCols.map(col): _*).collect().toSeq
    SimilarityQueries.bufferGraphInsert(spark, sfDir, path, b1)
    val after1 = vis()
    assert(after1.nonEmpty &&
      after1 == reb(col("vec_id") < 400 ||
        (col("vec_id") >= 400 && col("vec_id") % 2 === 0)))
    // a crashed insert changes nothing
    graft.sources.IndexManifest.failCommitCountdown = 0
    intercept[RuntimeException] {
      SimilarityQueries.bufferGraphInsert(spark, sfDir, path, b2)
    }
    assert(vis() == after1)
    SimilarityQueries.bufferGraphInsert(spark, sfDir, path, b2)
    assert(vis() == reb(lit(true)))
    // guards: membership refusal, corpus-system-of-record refusal
    val dup = intercept[IllegalArgumentException] {
      SimilarityQueries.bufferGraphInsert(spark, sfDir, path, b1)
    }
    assert(dup.getMessage.contains("members"), dup.getMessage)
    val orphanRows = emb.limit(1)
      .select(col("vec_id") + 9000000L as "vec_id", col("embedding"), col("label"))
    val orphan = intercept[IllegalArgumentException] {
      SimilarityQueries.bufferGraphInsert(spark, sfDir, path, orphanRows)
    }
    assert(orphan.getMessage.contains("corpus"), orphan.getMessage)
    // serving parity: the ingested graph beams exactly like a one-shot
    // full build (every hop reads base∪delta through the key override)
    val fullPath = s"$tmp/knn_ing_full"
    SimilarityQueries.writeKnnGraph(spark, sfDir, fullPath)
    val q = e.filter(col("vec_id") < 10)
    val servedIngested = sorted(
      SimilarityQueries.graphBeamFromIndex(spark, sfDir, path, q))
    assert(servedIngested.nonEmpty && servedIngested ==
      sorted(SimilarityQueries.graphBeamFromIndex(spark, sfDir, fullPath, q)))
    // the fold: window retired, rows physical, serving unchanged
    SimilarityQueries.compactKnnGraph(spark, path)
    assert(graft.sources.IndexManifest.current(spark, path)
      .forall(_.deltas.isEmpty))
    assert(vis() == reb(lit(true)))
    assert(sorted(SimilarityQueries.graphBeamFromIndex(spark, sfDir, path, q))
      == servedIngested)
    assert(spark.read.parquet(graft.sources.IndexManifest.dataPath(spark, path, path))
      .filter(col("vec_id") >= 400).count() > 0)
    // an ingested-then-folded node is takedown-able
    val victim = b1.select("vec_id").limit(1).collect().head.getLong(0)
    SimilarityQueries.deleteFromKnnGraph(spark, path, Seq(victim))
    assert(!SimilarityQueries.graphBeamFromIndex(spark, sfDir, path, q)
      .collect().exists(_.getLong(2) == victim))
  }

  test("prefix update of a standing representative replaces its rows in BOTH views; short updates remove") {
    // review-found (r17): the live forward view previously missed the
    // update-window masks (they land on the inverted anchor only), so a
    // re-ingested standing rep double-served in fwd and the fold baked
    // the divergence in. Both views now resolve the inverted epoch.
    import graft.operators.DedupQueries
    DedupQueries.writePrefixIndex(spark, sfDir, "prefix_upd", s"$tmp/prefix_upd")
    val victim = spark.table("prefix_upd_fwd").select("doc_id").distinct()
      .agg(min(col("doc_id"))).head.getLong(0)
    val newText = "zulu victor whiskey xray yankee unique tokens nowhere else"
    import spark.implicits._
    DedupQueries.bufferPrefixUpdate(
      Seq((victim, newText)).toDF("doc_id", "text"), "prefix_upd")
    val (inv, fwd) = DedupQueries.prefixIndexFrames(spark, "prefix_upd")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .filter(col("doc_id") === victim).select("doc_id", "x", "n_c")
      .orderBy("x").collect().toSeq
    val iRows = rows(inv)
    val fRows = rows(fwd)
    // identical row sets in both views, and ONLY the new text's shingles
    // (7 of them — 9 tokens → 7 trigrams)
    assert(iRows == fRows, s"views diverged: ${iRows.size} vs ${fRows.size}")
    assert(iRows.size == 7 && iRows.forall(_.getLong(2) == 7L), iRows.toString)
    // shrinking a WINDOW-RESIDENT id below the shingle floor is a removal
    // the mask cannot reach (its rows live in the delta, not the base) —
    // it must refuse toward the fold, never silently keep serving
    val shrinkBuffered = intercept[IllegalArgumentException] {
      DedupQueries.bufferPrefixUpdate(
        Seq((victim, "too short")).toDF("doc_id", "text"), "prefix_upd")
    }
    assert(shrinkBuffered.getMessage.contains("compactPrefixIndex"),
      shrinkBuffered.getMessage)
    // a BASE-resident rep shrinking below the floor removes cleanly (the
    // mask-only batch), from both views
    val victim2 = spark.table("prefix_upd_fwd").select("doc_id").distinct()
      .filter(col("doc_id") =!= victim)
      .agg(min(col("doc_id"))).head.getLong(0)
    DedupQueries.bufferPrefixUpdate(
      Seq((victim2, "too short")).toDF("doc_id", "text"), "prefix_upd")
    val (inv2, fwd2) = DedupQueries.prefixIndexFrames(spark, "prefix_upd")
    assert(inv2.filter(col("doc_id") === victim2).count() == 0)
    assert(fwd2.filter(col("doc_id") === victim2).count() == 0)
    // an all-short batch of UNKNOWN ids is a clean no-op, never a thrown
    // poison pill (the streaming caller would replay it forever)
    DedupQueries.bufferPrefixUpdate(
      Seq((8888888L, "na")).toDF("doc_id", "text"), "prefix_upd")
    val anchor = graft.sources.Tombstones.tableLocation(spark, "prefix_upd")
    assert(graft.sources.IndexManifest.current(spark, anchor)
      .exists(_.deltas.size == 2), "the no-op batch must not commit")
    // the fold bakes the final state cleanly into both tables; after it
    // the previously-refused shrink of the first victim proceeds
    DedupQueries.compactPrefixIndex(spark, "prefix_upd")
    DedupQueries.bufferPrefixUpdate(
      Seq((victim, "too short")).toDF("doc_id", "text"), "prefix_upd")
    val (inv3, fwd3) = DedupQueries.prefixIndexFrames(spark, "prefix_upd")
    assert(inv3.filter(col("doc_id") === victim).count() == 0)
    assert(fwd3.filter(col("doc_id") === victim).count() == 0)
    assert(inv3.filter(col("doc_id") === victim2).count() == 0)
  }

  test("crash between the prefix folds leaves both views exact; the retry is clean") {
    // review-found (r17): the fwd table folds first, physically baking
    // the open window into its base while the window is still live — a
    // plain union would double-serve every window row there (and a retry
    // would bake the duplicates in). The key-override read makes every
    // fold state exact; pinned by crashing right after the fwd swap.
    import graft.operators.DedupQueries
    val t = graft.sources.Tombstones
    val thr = DedupQueries.writePrefixIndex(
      spark, sfDir, "prefix_foldcrash", s"$tmp/prefix_foldcrash")
    val d = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val corpusTexts = d.filter(col("doc_id") < thr)
      .select(md5(col("text")).as("h")).distinct()
    val batch = d.filter(col("doc_id") >= thr)
      .join(corpusTexts, md5(col("text")) === col("h"), "left_anti")
      .select("doc_id", "text")
    DedupQueries.bufferPrefixUpdate(batch, "prefix_foldcrash")
    def frames() = {
      val (i, f) = DedupQueries.prefixIndexFrames(spark, "prefix_foldcrash")
      (i.orderBy("doc_id", "x").collect().toSeq,
        f.orderBy("doc_id", "x").collect().toSeq)
    }
    val before = frames()
    assert(before._1.nonEmpty && before._1 == before._2)
    t.failAfterTableSwap = true
    intercept[RuntimeException] {
      DedupQueries.compactPrefixIndex(spark, "prefix_foldcrash")
    }
    // between the folds: fwd base contains the baked window, the window
    // is still open — the override keeps both views exactly pre-crash
    assert(frames() == before, "mid-fold state double-served window rows")
    // the retry folds both tables; views unchanged, window retired
    DedupQueries.compactPrefixIndex(spark, "prefix_foldcrash")
    assert(frames() == before)
    val anchor = graft.sources.Tombstones.tableLocation(spark, "prefix_foldcrash")
    assert(graft.sources.IndexManifest.current(spark, anchor)
      .forall(_.deltas.isEmpty))
  }

  test("crash between the search fold's swap and clear: probes stay exact, the retry is clean") {
    // review-found (r17): the search anchor is immutable, so after the
    // swap the new base already contains the folded window while the
    // window is still open — insert-only append deltas have no masking
    // fragment, so a plain union would double-count their postings in df
    // and tf. The override read keeps every crash state exact.
    import graft.operators.SearchQueries
    val t = graft.sources.Tombstones
    val path = s"$tmp/search_foldcrash"
    SearchQueries.writeSearchIndex(spark, sfDir, "search_foldcrash", path)
    SearchQueries.appendSearchIndex(spark, "search_foldcrash", path,
      Tables.documents(spark, sfDir).filter(col("doc_id") % 17 === 3)
        .select(col("doc_id") + 7100000L as "doc_id", col("text"), col("lang")))
    val before = sorted(SearchQueries.bm25TopkFromIndex(spark, "search_foldcrash", path))
    t.failAfterTableSwap = true
    intercept[RuntimeException] {
      SearchQueries.compactSearchIndex(spark, "search_foldcrash", path)
    }
    assert(sorted(SearchQueries.bm25TopkFromIndex(
      spark, "search_foldcrash", path)) == before,
      "post-swap pre-clear state double-served the append window")
    SearchQueries.compactSearchIndex(spark, "search_foldcrash", path)
    assert(sorted(SearchQueries.bm25TopkFromIndex(
      spark, "search_foldcrash", path)) == before)
    assert(graft.sources.IndexManifest.current(spark, path)
      .forall(_.deltas.isEmpty))
  }

  test("post-fold as-of on a FENCED index refuses pre-fold epochs instead of serving the carry") {
    // review-found (r17): the fold's fence-carry commit used to start the
    // fresh anchor at v1, so as-of 'epoch 1' silently resolved the FOLDED
    // table as a pre-fold state. The carry now CONTINUES the old
    // lineage's version numbering (and bumps the generation), so every
    // pre-fold version is a loud missing-epoch failure and the carried
    // epoch truthfully reads as the post-fold state.
    import graft.operators.DedupQueries
    DedupQueries.writeBandIndex(spark, sfDir, "band_fasof", s"$tmp/band_fasof")
    val d = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val b1 = d.filter(col("doc_id") % 13 === 1)
      .select(col("doc_id") + 5100000L as "doc_id", col("text"))
    val b2 = d.filter(col("doc_id") % 13 === 4)
      .select(col("doc_id") + 5200000L as "doc_id", col("text"))
    assert(DedupQueries.ingestBandBatch(b1, "band_fasof", 0L, streamId = "s1")) // v1
    assert(DedupQueries.ingestBandBatch(b2, "band_fasof", 1L, streamId = "s1")) // v2
    val live = DedupQueries.bandIndexFrame(spark, "band_fasof")
      .orderBy("doc_id", "bk").collect().toSeq
    DedupQueries.compactBandIndex(spark, "band_fasof") // carry: epoch v3, gen+1
    val gone = intercept[IllegalArgumentException] {
      DedupQueries.bandIndexFrameAsOf(spark, "band_fasof", 1L).collect()
    }
    assert(gone.getMessage.contains("never committed"), gone.getMessage)
    // the carried epoch is addressable and truthful: it IS the folded state
    assert(DedupQueries.bandIndexFrameAsOf(spark, "band_fasof", 3L)
      .orderBy("doc_id", "bk").collect().toSeq == live)
    // and the fence still skips a replay after the fold
    assert(!DedupQueries.ingestBandBatch(b2, "band_fasof", 1L, streamId = "s1"))
    // vacuum with a retention window must tolerate the carry's SPARSE
    // version history (second-review finding: a dense-range at() threw
    // on the holes the version-continuing carry creates)
    val anchor = graft.sources.Tombstones.tableLocation(spark, "band_fasof")
    assert(graft.sources.Tombstones.vacuum(spark, anchor, keepEpochs = 1) >= 0)
    assert(DedupQueries.bandIndexFrame(spark, "band_fasof")
      .orderBy("doc_id", "bk").collect().toSeq == live)
  }

  test("append hygiene: empty batches no-op, within-batch duplicate ids refuse") {
    // review-found (r17): an empty cell-partitioned delta write produces
    // no schema-bearing file — committing it would brick every later
    // delta read (probes AND the fold); and a batch carrying one id twice
    // would double-serve under an insert-only append
    import graft.operators.{SearchQueries, SimilarityQueries}
    val ip = s"$tmp/ivf_hyg"
    SimilarityQueries.writeIvfIndex(spark, sfDir, ip)
    val before = sorted(SimilarityQueries.ivfTopkFromIndex(spark, sfDir, ip))
    val emb = Tables.embeddings(spark, sfDir)
    SimilarityQueries.appendIvfIndex(spark, sfDir, ip,
      emb.filter(col("vec_id") < -1)) // empty: clean no-op
    assert(graft.sources.IndexManifest.current(spark, ip).isEmpty ||
      graft.sources.IndexManifest.current(spark, ip).exists(_.deltas.isEmpty))
    assert(sorted(SimilarityQueries.ivfTopkFromIndex(spark, sfDir, ip)) == before)
    val doubled = emb.filter(col("vec_id") === 0L)
      .select(col("vec_id") + 7200000L as "vec_id", col("embedding"), col("label"))
    val e1 = intercept[IllegalArgumentException] {
      SimilarityQueries.appendIvfIndex(spark, sfDir, ip, doubled.unionAll(doubled))
    }
    assert(e1.getMessage.contains("more than once"), e1.getMessage)
    val sp = s"$tmp/search_hyg"
    SearchQueries.writeSearchIndex(spark, sfDir, "search_hyg", sp)
    val sdoc = Tables.documents(spark, sfDir).filter(col("doc_id") === 0L)
      .select(col("doc_id") + 7300000L as "doc_id", col("text"), col("lang"))
    val e2 = intercept[IllegalArgumentException] {
      SearchQueries.appendSearchIndex(spark, "search_hyg", sp, sdoc.unionAll(sdoc))
    }
    assert(e2.getMessage.contains("more than once"), e2.getMessage)
    // the winnow append refuses the same shape: two texts under one doc_id
    // would otherwise land as the union of both texts' fingerprints
    import graft.operators.{DedupQueries, Multimodal, MultimodalQueries}
    import graft.sources.{IndexManifest, Tombstones}
    DedupQueries.writeWinnowIndex(spark, sfDir, "winnow_hyg", s"$tmp/winnow_hyg")
    val twoTexts = Tables.documents(spark, sfDir).filter(col("doc_id") < 2)
      .select(lit(9100000L) as "doc_id", col("text"))
    val e3 = intercept[IllegalArgumentException] {
      DedupQueries.appendWinnowIndex(twoTexts, "winnow_hyg")
    }
    assert(e3.getMessage.contains("more than once"), e3.getMessage)
    // an empty replace batch commits nothing and advances no fence in
    // every family, and its fenced ingest admits it
    def unchanged(anchor: String)(write: => Unit): Unit = {
      val before = (IndexManifest.current(spark, anchor), Tombstones.ingestFence(spark, anchor))
      write
      assert((IndexManifest.current(spark, anchor),
        Tombstones.ingestFence(spark, anchor)) == before, anchor)
    }
    val noDocs = Tables.documents(spark, sfDir).filter(col("doc_id") < -1)
      .select(col("doc_id"), col("text"))
    DedupQueries.writeBandIndex(spark, sfDir, "band_hyg", s"$tmp/band_hyg")
    DedupQueries.writePrefixIndex(spark, sfDir, "prefix_hyg", s"$tmp/prefix_hyg")
    unchanged(Tombstones.tableLocation(spark, "band_hyg")) {
      DedupQueries.bufferBandUpdate(noDocs, "band_hyg")
      assert(DedupQueries.ingestBandBatch(noDocs, "band_hyg", 0L, streamId = "hyg"))
    }
    unchanged(Tombstones.tableLocation(spark, "winnow_hyg")) {
      DedupQueries.bufferWinnowUpdate(noDocs, "winnow_hyg")
      assert(DedupQueries.ingestWinnowBatch(noDocs, "winnow_hyg", 0L, streamId = "hyg"))
    }
    unchanged(Tombstones.tableLocation(spark, "prefix_hyg")) {
      DedupQueries.bufferPrefixUpdate(noDocs, "prefix_hyg")
      assert(DedupQueries.ingestPrefixBatch(noDocs, "prefix_hyg", 0L, streamId = "hyg"))
    }
    MultimodalQueries.writePhashIndex(spark, sfDir, "phash_hyg", s"$tmp/phash_hyg")
    val noAssets = Multimodal.documentsAsAssets(spark, sfDir)
      .filter(col("asset_id") < -1).select("asset_id", "payload", "format")
    unchanged(Tombstones.tableLocation(spark, "phash_hyg")) {
      MultimodalQueries.bufferPhashUpdate(noAssets, "phash_hyg")
      assert(MultimodalQueries.ingestPhashBatch(noAssets, "phash_hyg", 0L, streamId = "hyg"))
    }
    unchanged(sp) {
      SearchQueries.bufferSearchUpdate(spark, "search_hyg", sp, sdoc.filter(lit(false)))
      assert(SearchQueries.ingestSearchBatch(
        spark, "search_hyg", sp, sdoc.filter(lit(false)), 0L, streamId = "hyg"))
    }
    val noVecs = emb.filter(col("vec_id") < -1)
    unchanged(ip) {
      SimilarityQueries.bufferIvfUpdate(spark, sfDir, ip, noVecs)
      assert(SimilarityQueries.ingestIvfBatch(spark, sfDir, ip, noVecs, 0L, streamId = "hyg"))
    }
    val pq = s"$tmp/pq_hyg"
    SimilarityQueries.writePqIndex(spark, sfDir, pq)
    unchanged(pq) {
      assert(SimilarityQueries.ingestPqBatch(spark, pq, noVecs, 0L, streamId = "hyg"))
    }
    val sq = s"$tmp/sq_hyg"
    SimilarityQueries.writeSqIndex(spark, sfDir, sq)
    unchanged(sq) {
      assert(SimilarityQueries.ingestSqBatch(spark, sq, noVecs, 0L, streamId = "hyg"))
    }
    // an empty delete commits nothing in every family, as an empty replace
    // or insert does
    unchanged(Tombstones.tableLocation(spark, "band_hyg")) {
      DedupQueries.deleteFromBandIndex(spark, "band_hyg", Nil)
    }
    unchanged(Tombstones.tableLocation(spark, "winnow_hyg")) {
      DedupQueries.deleteFromWinnowIndex(spark, "winnow_hyg", Nil)
    }
    unchanged(Tombstones.tableLocation(spark, "prefix_hyg")) {
      DedupQueries.deleteFromPrefixIndex(spark, "prefix_hyg", Nil)
    }
    unchanged(Tombstones.tableLocation(spark, "phash_hyg")) {
      MultimodalQueries.deleteFromPhashIndex(spark, "phash_hyg", Nil)
    }
    unchanged(sp)(SearchQueries.deleteFromSearchIndex(spark, "search_hyg", sp, Nil))
    unchanged(ip)(SimilarityQueries.deleteFromIvfIndex(spark, ip, Nil))
    unchanged(pq)(SimilarityQueries.deleteFromPqIndex(spark, pq, Nil))
    unchanged(sq)(SimilarityQueries.deleteFromSqIndex(spark, sq, Nil))
    val rp = s"$tmp/rp_hyg"
    SimilarityQueries.writeRpSketch(spark, sfDir, rp)
    unchanged(rp)(SimilarityQueries.deleteFromRpSketch(spark, rp, Nil))
    val gp = s"$tmp/graph_hyg"
    SimilarityQueries.writeKnnGraphWhere(spark, sfDir, gp, col("vec_id") < 400)
    unchanged(gp)(SimilarityQueries.deleteFromKnnGraph(spark, gp, Nil))
  }

  test("as-of frames are family-uniform: bucketed families and the graph travel; folds end the horizon") {
    // r17 closes the as-of asymmetry: search/IVF had time travel, the
    // location-anchored bucketed families and the graph did not. Pin the
    // winnow/band shapes (delete epoch, then an update/ingest epoch,
    // travel between them), the prefix two-view read, the graph beam
    // as-of, and the loud post-fold refusal (the location anchor dies
    // with its location, so travel fails on the fresh anchor's missing
    // epoch rather than silently serving the folded table)
    import graft.operators.{DedupQueries, SimilarityQueries}
    import graft.functions.VectorOps
    // winnow: v1 delete, v2 buffered update
    val thr = DedupQueries.writeWinnowIndex(
      spark, sfDir, "winnow_asof", s"$tmp/winnow_asof")
    val d = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val wdel = d.filter(col("doc_id") < thr && col("doc_id") % 11 === 5)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    DedupQueries.deleteFromWinnowIndex(spark, "winnow_asof", wdel)      // v1
    val atV1 = DedupQueries.winnowIndexFrameAsOf(spark, "winnow_asof", 1L)
      .orderBy("doc_id", "fp").collect().toSeq
    assert(atV1 == DedupQueries.winnowIndexFrame(spark, "winnow_asof")
      .orderBy("doc_id", "fp").collect().toSeq)
    DedupQueries.bufferWinnowUpdate(                                    // v2
      d.filter(col("doc_id") < thr && col("doc_id") % 13 === 2 &&
          col("doc_id") % 11 =!= 5) // deleted ids refuse (resurrect guard)
        .select(col("doc_id"), concat(col("text"), lit(" zulu")).as("text")),
      "winnow_asof")
    // v1 still reproduces the pre-update state; v2 equals live
    assert(DedupQueries.winnowIndexFrameAsOf(spark, "winnow_asof", 1L)
      .orderBy("doc_id", "fp").collect().toSeq == atV1)
    assert(DedupQueries.winnowIndexFrameAsOf(spark, "winnow_asof", 2L)
      .orderBy("doc_id", "fp").collect().toSeq ==
      DedupQueries.winnowIndexFrame(spark, "winnow_asof")
        .orderBy("doc_id", "fp").collect().toSeq)
    // the fold moves the location; the old anchor's epochs die LOUDLY
    DedupQueries.compactWinnowIndex(spark, "winnow_asof")
    val gone = intercept[Exception] {
      DedupQueries.winnowIndexFrameAsOf(spark, "winnow_asof", 1L).collect()
    }
    assert(gone.getMessage.contains("never committed") ||
      gone.getMessage.contains("generation"), gone.getMessage)
    // and a POST-fold mutation must not recreate a pre-fold version
    // number (second-review aliasing: without the UNCONDITIONAL version-
    // continuing carry, an unfenced anchor restarted at v1 and 'epoch 1'
    // silently resolved to the post-fold state)
    DedupQueries.deleteFromWinnowIndex(spark, "winnow_asof", Seq(wdel.head))
    val gone2 = intercept[Exception] {
      DedupQueries.winnowIndexFrameAsOf(spark, "winnow_asof", 1L).collect()
    }
    assert(gone2.getMessage.contains("never committed") ||
      gone2.getMessage.contains("generation"), gone2.getMessage)
    // band: v1 ingest-style buffer, travel to it after a later delete
    DedupQueries.writeBandIndex(spark, sfDir, "band_asof", s"$tmp/band_asof")
    val bnew = d.filter(col("doc_id") < thr && col("doc_id") % 13 === 1)
      .select(col("doc_id") + 4000000L as "doc_id", col("text"))
    DedupQueries.bufferBandUpdate(bnew, "band_asof")                    // v1
    val bAt1 = DedupQueries.bandIndexFrameAsOf(spark, "band_asof", 1L)
      .orderBy("doc_id", "bk").collect().toSeq
    DedupQueries.deleteFromBandIndex(spark, "band_asof",               // v2
      d.filter(col("doc_id") < thr && col("doc_id") % 11 === 5)
        .select("doc_id").collect().map(_.getLong(0)).toSeq)
    assert(DedupQueries.bandIndexFrameAsOf(spark, "band_asof", 1L)
      .orderBy("doc_id", "bk").collect().toSeq == bAt1)
    assert(DedupQueries.bandIndexFrameAsOf(spark, "band_asof", 2L)
      .orderBy("doc_id", "bk").collect().toSeq !=  bAt1)
    // prefix: the two-view as-of reads both halves under the inverted epoch
    DedupQueries.writePrefixIndex(spark, sfDir, "prefix_asof", s"$tmp/prefix_asof")
    val pdel = spark.table("prefix_asof").select("doc_id").distinct()
      .filter(col("doc_id") % 11 === 5).collect().map(_.getLong(0)).toSeq
    DedupQueries.deleteFromPrefixIndex(spark, "prefix_asof", pdel)      // v1 (each anchor)
    val (pi1, pf1) = DedupQueries.prefixIndexFramesAsOf(spark, "prefix_asof", 1L)
    val (piL, pfL) = DedupQueries.prefixIndexFrames(spark, "prefix_asof")
    assert(pi1.orderBy("doc_id", "x").collect().toSeq ==
      piL.orderBy("doc_id", "x").collect().toSeq)
    assert(pf1.orderBy("doc_id", "x").collect().toSeq ==
      pfL.orderBy("doc_id", "x").collect().toSeq)
    // graph: beam travel below a later delete reproduces the post-ingest
    // walk — pinned against a FULL one-shot build (epoch v1 = bootstrap +
    // the whole remainder, which IS the full corpus graph)
    val gp = s"$tmp/graph_asof"
    SimilarityQueries.writeKnnGraphWhere(spark, sfDir, gp, col("vec_id") < 400)
    val e = VectorOps.normalized(spark, sfDir)
    val q = e.filter(col("vec_id") < 10)
    val rest = Tables.embeddings(spark, sfDir).filter(col("vec_id") >= 400)
    SimilarityQueries.bufferGraphInsert(spark, sfDir, gp, rest)         // v1
    val victim = rest.agg(min(col("vec_id"))).head.getLong(0)
    SimilarityQueries.deleteFromKnnGraph(spark, gp, Seq(victim))        // v2
    val gAt1 = sorted(SimilarityQueries.graphBeamFromIndexAsOf(spark, sfDir, gp, q, 1L))
    val full = s"$tmp/graph_asof_full"
    SimilarityQueries.writeKnnGraph(spark, sfDir, full)
    assert(gAt1.nonEmpty &&
      gAt1 == sorted(SimilarityQueries.graphBeamFromIndex(spark, sfDir, full, q)))
    // the fold bumps the generation: travel below it refuses loudly
    SimilarityQueries.compactKnnGraph(spark, gp)
    val gerr = intercept[IllegalArgumentException] {
      SimilarityQueries.graphBeamFromIndexAsOf(spark, sfDir, gp, q, 1L)
    }
    assert(gerr.getMessage.contains("generation"), gerr.getMessage)
  }

  test("manifest resolution price: measured, and immaterial next to any probe") {
    // the r16 verdict's pricing ask: every probe pays one listStatus +
    // one small-file read to resolve its epoch. Measure it on a
    // mutated index (one epoch to parse) and print the figure —
    // recorded in BASELINE.md; the assert is a 100x canary, not a
    // benchmark. (No cache: at the measured sub-ms local cost a cache
    // saves nothing, and a same-JVM cache would go stale against a
    // cross-session writer — the coherence bug is worse than the read.)
    import graft.operators.SearchQueries
    val path = s"$tmp/res_price"
    SearchQueries.writeSearchIndex(spark, sfDir, "res_price_idx", path)
    graft.sources.Tombstones.add(spark, path, Seq(1L))
    (1 to 50).foreach(_ => graft.sources.IndexManifest.current(spark, path))
    val n = 1000
    val t0 = System.nanoTime()
    var i = 0
    while (i < n) {
      assert(graft.sources.IndexManifest.current(spark, path).isDefined)
      i += 1
    }
    val usPerOp = (System.nanoTime() - t0) / 1000.0 / n
    println(f"MANIFEST_RESOLUTION_US_PER_OP=$usPerOp%.1f")
    assert(usPerOp < 50000, f"manifest resolution cost exploded: $usPerOp%.1f us/op")
  }

  test("writer lease: one writer proceeds, a live foreign lease fails or waits, crash-expiry breaks") {
    // the automation layer over the single-writer discipline: the
    // manifest's collision check stays the correctness guard (a true
    // race still fails loudly at commit); the lease turns a crashed
    // writer's successor from a page into a bounded wait
    val wl = graft.sources.WriterLease
    val anchor = s"$tmp/lease_anchor"
    assert(wl.acquire(spark, anchor, "writer-a", ttlMs = 60000))
    // a foreign claimant fails fast while the lease is live...
    assert(!wl.acquire(spark, anchor, "writer-b", ttlMs = 60000))
    // ...and the waiting policy parks, polls, and gives up at its deadline
    assert(!wl.acquireOrWait(spark, anchor, "writer-b", 60000,
      waitMs = 300, pollMs = 50))
    // the owner renews its own live lease
    assert(wl.acquire(spark, anchor, "writer-a", ttlMs = 60000))
    wl.release(spark, anchor, "writer-a")
    // crash-expiry under a controllable clock: the holder stops renewing,
    // the TTL passes, a successor breaks the stale lease and proceeds
    var now = System.currentTimeMillis()
    val clock = () => now
    assert(wl.acquire(spark, anchor, "writer-a", ttlMs = 1000, nowMs = clock))
    now += 5000 // writer-a crashed; its lease expired un-renewed
    assert(wl.acquire(spark, anchor, "writer-b", ttlMs = 60000, nowMs = clock))
    // the corpse coming back cannot release the successor's lease
    val e = intercept[IllegalArgumentException] {
      wl.release(spark, anchor, "writer-a")
    }
    assert(e.getMessage.contains("writer-b"), e.getMessage)
    wl.release(spark, anchor, "writer-b")
    // withLease: claims, runs, releases on every exit path
    assert(wl.withLease(spark, anchor, "writer-c") { 42 } == 42)
    assert(wl.current(spark, anchor).isEmpty)
    // and fails loudly past its wait deadline while someone holds it
    assert(wl.acquire(spark, anchor, "writer-d", ttlMs = 60000))
    val e2 = intercept[IllegalArgumentException] {
      wl.withLease(spark, anchor, "writer-e", waitMs = 200) { 1 }
    }
    assert(e2.getMessage.contains("writer-d"), e2.getMessage)
    wl.release(spark, anchor, "writer-d")
    // review-found (r17): a zero-byte lease — a writer dead between
    // create and write — must be BREAKABLE after a grace, not a permanent
    // page (the old hard-fail made the expired-break branch unreachable);
    // but a FRESH torn file may be a racer mid-initial-write, so within
    // the grace it is NOT breakable (the second review pass's race)
    val leaseFile = new java.io.File(wl.leasePath(anchor).stripPrefix("file:"))
    leaseFile.getParentFile.mkdirs()
    assert(leaseFile.createNewFile())
    assert(wl.current(spark, anchor).exists(_.holder == "<torn>"))
    assert(!wl.acquire(spark, anchor, "writer-f", ttlMs = 60000),
      "a fresh torn lease (possible mid-write racer) must not break")
    assert(leaseFile.setLastModified(
      System.currentTimeMillis() - graft.sources.IndexManifest.TORN_GRACE_MS - 5000))
    assert(wl.acquire(spark, anchor, "writer-f", ttlMs = 60000),
      "an aged torn lease (dead creator) must break")
    wl.release(spark, anchor, "writer-f")
    // review-found (r17): a body that loses its lease mid-run (expiry +
    // takeover) still completes, must NOT tear down the successor's
    // lease, and must not be reported failed over it
    val r = wl.withLease(spark, anchor, "writer-g") {
      assert(leaseFile.delete()) // simulate the TTL expiring + break
      assert(wl.acquire(spark, anchor, "writer-h", ttlMs = 60000))
      7
    }
    assert(r == 7)
    assert(wl.current(spark, anchor).exists(_.holder == "writer-h"))
    wl.release(spark, anchor, "writer-h")
  }

  test("vacuum retention window: as-of travel survives inside keepEpochs, refuses loudly outside") {
    import graft.operators.SearchQueries
    val t = graft.sources.Tombstones
    val path = s"$tmp/search_vacret"
    SearchQueries.writeSearchIndex(spark, sfDir, "search_vacret_idx", path)
    val ids = Tables.documents(spark, sfDir).filter(col("doc_id") % 7 === 3)
      .select("doc_id").collect().map(_.getLong(0))
    assert(ids.length >= 3)
    SearchQueries.deleteFromSearchIndex(spark, "search_vacret_idx", path, Seq(ids(0))) // v1
    SearchQueries.deleteFromSearchIndex(spark, "search_vacret_idx", path, Seq(ids(1))) // v2
    SearchQueries.deleteFromSearchIndex(spark, "search_vacret_idx", path, Seq(ids(2))) // v3
    val asof1 = sorted(SearchQueries.bm25TopkFromIndexAsOf(spark, "search_vacret_idx", path, 1L))
    val asof2 = sorted(SearchQueries.bm25TopkFromIndexAsOf(spark, "search_vacret_idx", path, 2L))
    val live = sorted(SearchQueries.bm25TopkFromIndex(spark, "search_vacret_idx", path))
    // keepEpochs = 1: v2 (the one most recently superseded epoch) stays
    // travel-able, v1's superseded stats are reclaimed
    val n = t.vacuum(spark, path, keepEpochs = 1)
    assert(n >= 1, s"reclaimed $n")
    assert(sorted(SearchQueries.bm25TopkFromIndexAsOf(
      spark, "search_vacret_idx", path, 2L)) == asof2)
    assert(sorted(SearchQueries.bm25TopkFromIndex(
      spark, "search_vacret_idx", path)) == live)
    val gone = intercept[Exception] {
      SearchQueries.bm25TopkFromIndexAsOf(spark, "search_vacret_idx", path, 1L)
        .collect()
    }
    assert(gone.getMessage.contains("stats_e1") ||
      Option(gone.getCause).exists(_.getMessage.contains("stats_e1")),
      s"expected a loud missing-path failure, got: ${gone.getMessage}")
    assert(asof1 != null) // the pre-vacuum read really did serve
  }

  test("verified lease claim: a fold moving the anchor mid-claim retries at the new location; a never-settling resolver pages") {
    // the stale-generation race the group-drain soak caught: a claimant
    // resolves the anchor, a concurrent fold moves the location before
    // the lease lands, and without the verify step the claimant holds a
    // DEAD generation's lease while the live one goes uncontended
    val wl = graft.sources.WriterLease
    val l1 = s"$tmp/rlease_gen1"
    val l2 = s"$tmp/rlease_gen2"
    // the "fold" lands between the claimant's resolution and its verify:
    // first resolution says l1, every later one says l2
    val calls = new java.util.concurrent.atomic.AtomicInteger()
    val seen = scala.collection.mutable.ArrayBuffer[String]()
    val got = wl.withResolvedIngestLease(spark,
        () => if (calls.getAndIncrement() == 0) l1 else l2,
        "claimant", waitMs = 5000L) { a =>
      seen += a; a
    }
    // the body ran EXACTLY ONCE, at the post-fold location, and the
    // stale first-generation lease was released on the retry path
    assert(got == l2 && seen.toSeq == Seq(l2))
    assert(wl.current(spark, l1).isEmpty && wl.current(spark, l2).isEmpty)
    // a resolver that never settles (a fold storm, or a broken resolver)
    // pages loudly instead of spinning forever
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val err = intercept[IllegalStateException] {
      wl.withResolvedIngestLease(spark,
          () => s"$tmp/rlease_storm_${n.getAndIncrement()}",
          "claimant", waitMs = 5000L) { _ => fail("body must never run") }
    }
    assert(err.getMessage.contains("claim"), err.getMessage)
    // opting the lease out resolves once and runs the body directly
    assert(wl.withResolvedIngestLease(spark, () => l1, "x", waitMs = -1L)(identity) == l1)
    // a constant resolver under a real wait budget is the plain ingest
    // lease on a fixed anchor: the body runs once, at that anchor, holding
    // the lease, which is released afterwards
    val fixed = s"$tmp/rlease_fixed"
    val ran = scala.collection.mutable.ArrayBuffer[(String, Option[String])]()
    wl.withResolvedIngestLease(spark, () => fixed, "claimant", waitMs = 5000L) { a =>
      ran += (a -> wl.current(spark, a).map(_.holder))
    }
    assert(ran.toSeq == Seq(fixed -> Some("claimant")))
    assert(wl.current(spark, fixed).isEmpty)
    // the retry loop is bounded by the caller's TOTAL wait budget, not
    // per-attempt: with a zero budget the first anchor-moved retry pages
    // on the wall-clock deadline rather than burning toward the attempt
    // cap with a full waitMs wait each time (review-found: 64 × 600 s
    // default = hours of stall before the page)
    val n2 = new java.util.concurrent.atomic.AtomicInteger()
    val err2 = intercept[IllegalStateException] {
      wl.withResolvedIngestLease(spark,
          () => s"$tmp/rlease_budget_${n2.getAndIncrement()}",
          "claimant", waitMs = 0L) { _ => fail("body must never run") }
    }
    assert(err2.getMessage.contains("budget"), err2.getMessage)
    assert(n2.get() < 64, "the deadline must fire before the attempt cap")
  }

  test("lease break is atomic: rename+verify restores a reclaimed lease instead of stealing it") {
    // review-found (r17 ADVICE): the old break was delete-then-create —
    // claimant B that read a STALE lease could delete claimant A's
    // freshly created lease and create its own, leaving two holders. The
    // rename-to-tomb break verifies the tombed content IS the expired
    // lease the claimant observed; a mismatch restores it and reports
    // the race lost.
    val wl = graft.sources.WriterLease
    val anchor = s"$tmp/lease_break"
    var now = System.currentTimeMillis()
    val clock = () => now
    assert(wl.acquire(spark, anchor, "writer-a", ttlMs = 1000, nowMs = clock))
    val staleA = wl.current(spark, anchor).get
    now += 5000 // writer-a crashed; its lease expired un-renewed
    // between B's read of the stale lease and B's break, writer-c breaks
    // and reclaims — the two-holder race window
    assert(wl.acquire(spark, anchor, "writer-c", ttlMs = 600000, nowMs = clock))
    val cLease = wl.current(spark, anchor).get
    assert(cLease.holder == "writer-c")
    // B acts on its stale observation: the break must detect the
    // mismatch, RESTORE writer-c's live lease, and report the loss
    assert(!wl.breakExpired(spark, anchor, staleA),
      "a break acting on a stale observation must lose, not steal")
    assert(wl.current(spark, anchor).contains(cLease),
      "the reclaimed lease must be restored exactly")
    // ...and writer-c's lease still gates claimants end-to-end
    assert(!wl.acquire(spark, anchor, "writer-b", ttlMs = 60000, nowMs = clock))
    // the honest path still breaks: observing the ACTUAL expired lease
    now += 700000 // writer-c's lease expired too
    val staleC = wl.current(spark, anchor).get
    assert(wl.breakExpired(spark, anchor, staleC))
    assert(wl.current(spark, anchor).isEmpty)
  }

  test("resurrect guard: a buffered update of a DELETED id refuses toward the fold; window-resident re-updates stay legal") {
    import graft.operators.{DedupQueries, SimilarityQueries}
    // band: delete id A, then try to buffer an update of A — the mask
    // covers base rows only, so the delta rows would serve immediately
    // and the next fold would persist them, silently undoing the
    // takedown (review-found: the append paths refused this while the
    // buffer paths accepted it)
    val thr = DedupQueries.writeBandIndex(
      spark, sfDir, "band_resur", s"$tmp/band_resur")
    val docs = Tables.documents(spark, sfDir).filter(col("doc_id") < thr)
    val ids = docs.filter(col("doc_id") % 17 === 4)
      .select("doc_id").limit(2).collect().map(_.getLong(0))
    assert(ids.length == 2)
    val (a, b) = (ids(0), ids(1))
    DedupQueries.deleteFromBandIndex(spark, "band_resur", Seq(a))
    def upd(id: Long, suffix: String) = docs.filter(col("doc_id") === id)
      .select(col("doc_id"), concat(col("text"), lit(suffix)).as("text"))
    val e1 = intercept[IllegalArgumentException] {
      DedupQueries.bufferBandUpdate(upd(a, " zulu"), "band_resur")
    }
    assert(e1.getMessage.contains("resurrect"), e1.getMessage)
    // an id tombstoned BY an open update stays window-resident: its
    // replacement rows serve, so a second update of it remains legal
    DedupQueries.bufferBandUpdate(upd(b, " zulu"), "band_resur")
    DedupQueries.bufferBandUpdate(upd(b, " zulu two"), "band_resur")
    // the fold retires the tombstone; the once-deleted id is re-usable
    // and probes equal an index that never saw the detour
    DedupQueries.compactBandIndex(spark, "band_resur")
    DedupQueries.bufferBandUpdate(upd(a, " back"), "band_resur")
    assert(DedupQueries.bandIndexFrame(spark, "band_resur")
      .filter(col("doc_id") === a).count() > 0)
    // IVF: same discipline on the vector family (the buffer path had no
    // guard at all)
    val ip = s"$tmp/ivf_resur"
    SimilarityQueries.writeIvfIndex(spark, sfDir, ip)
    val vid = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") % 19 === 6).select("vec_id")
      .limit(1).collect().head.getLong(0)
    SimilarityQueries.deleteFromIvfIndex(spark, ip, Seq(vid))
    val vrows = Tables.embeddings(spark, sfDir).filter(col("vec_id") === vid)
    val e2 = intercept[IllegalArgumentException] {
      SimilarityQueries.bufferIvfUpdate(spark, sfDir, ip, vrows)
    }
    assert(e2.getMessage.contains("resurrect"), e2.getMessage)
    SimilarityQueries.compactIvfIndex(spark, ip)
    SimilarityQueries.bufferIvfUpdate(spark, sfDir, ip, vrows)
    // review-found scope fix: a REMOVED id redelivered with SUB-FLOOR
    // content lands no replacement rows — nothing can resurrect, so a
    // mixed batch carrying it must be a clean no-op for that id, never a
    // poison pill a streaming runner would replay forever
    DedupQueries.deleteFromBandIndex(spark, "band_resur", Seq(b))
    val mixed = docs.filter(col("doc_id") === b)
      .select(col("doc_id"), lit("x y").as("text")) // below the 3-token floor
      .unionByName(upd(ids(0), " mixed"))
    DedupQueries.bufferBandUpdate(mixed, "band_resur") // must NOT throw
    assert(DedupQueries.bandIndexFrame(spark, "band_resur")
      .filter(col("doc_id") === b).count() == 0, "the takedown must stand")
    // review-found family gap: PQ and SQ ingest were missing the guard —
    // a deleted vec_id's encoded delta rows would serve under a base-only
    // mask and the fold would persist them
    val pqp = s"$tmp/pq_resur"
    SimilarityQueries.writePqIndex(spark, sfDir, pqp)
    SimilarityQueries.deleteFromPqIndex(spark, pqp, Seq(vid))
    val e3 = intercept[IllegalArgumentException] {
      SimilarityQueries.ingestPqBatch(spark, pqp, vrows, 0L, "resur")
    }
    assert(e3.getMessage.contains("resurrect"), e3.getMessage)
    val sqp = s"$tmp/sq_resur"
    SimilarityQueries.writeSqIndex(spark, sfDir, sqp)
    SimilarityQueries.deleteFromSqIndex(spark, sqp, Seq(vid))
    val e4 = intercept[IllegalArgumentException] {
      SimilarityQueries.ingestSqBatch(spark, sqp, vrows, 0L, "resur")
    }
    assert(e4.getMessage.contains("resurrect"), e4.getMessage)
    ()
  }

  test("graph beam: a live isolated seed (sentinel-only cell) is reachable; a deleted one never surfaces") {
    // review-found (r17 ADVICE): entry-seed membership resolved through
    // the EDGE read (nbr_id >= 0), which drops sentinel rows — so a live
    // seed that is the sole member of its cell could never surface as a
    // result even though the sentinel exists precisely to mark it present
    import graft.operators.SimilarityQueries
    val gp = s"$tmp/knn_iso_full"
    SimilarityQueries.writeKnnGraph(spark, sfDir, gp)
    val rows = spark.read.parquet(gp)
    // pick a seed and isolate it: rebuild the graph without the other
    // members of its cell (full-corpus seed geometry, membership filter)
    val s0 = rows.filter(col("vec_id") < SimilarityQueries.N_SEEDS)
      .select("vec_id").limit(1).collect().head.getLong(0)
    val c0 = rows.filter(col("vec_id") === s0)
      .select("cell").limit(1).collect().head.getLong(0)
    val others = rows.filter(col("cell") === c0 && col("vec_id") =!= s0)
      .select("vec_id").distinct().collect().map(_.getLong(0)).toSeq
    val gp2 = s"$tmp/knn_iso"
    SimilarityQueries.writeKnnGraphWhere(spark, sfDir, gp2,
      if (others.isEmpty) lit(true) else !col("vec_id").isin(others.map(i => i: Any): _*))
    // the isolated seed's only row is its rank-0 membership sentinel
    val s0rows = spark.read.parquet(gp2).filter(col("vec_id") === s0)
      .select("rank", "nbr_id").collect()
    assert(s0rows.length == 1 && s0rows.head.getLong(1) == -1L,
      s"expected a single sentinel row for $s0, got ${s0rows.mkString(",")}")
    // a query AT the isolated seed's vector must surface it at rank 1
    val e = graft.functions.VectorOps.normalized(spark, sfDir)
    val q = e.filter(col("vec_id") === s0)
      .select(lit(999999L).as("vec_id"), col("v"), col("nrm"))
    val top = SimilarityQueries.graphBeamFromIndex(spark, sfDir, gp2, q)
      .filter(col("rank") === 1).collect().head
    assert(top.getLong(2) == s0 && top.getDouble(3) > 0.999,
      s"isolated live seed must be reachable as an entry, got $top")
    // negative control: DELETE the isolated seed — it stays navigable as
    // routing state but must never surface as a result
    SimilarityQueries.deleteFromKnnGraph(spark, gp2, Seq(s0))
    assert(!SimilarityQueries.graphBeamFromIndex(spark, sfDir, gp2, q)
      .collect().exists(_.getLong(2) == s0))
  }

  test("vacuum retention counts committed epochs, not version arithmetic (sparse post-carry history)") {
    // review-found (r17 ADVICE): the retention window is the last
    // keepEpochs+1 COMMITTED entries of history() — a version-range
    // filter undercounts across the fold-carry's numbering hole. Pin the
    // promise directly: on an anchor whose history starts far above v1,
    // keepEpochs = 1 keeps exactly the most recently superseded epoch
    // travel-able and reclaims the older one.
    import graft.operators.SearchQueries
    val t = graft.sources.Tombstones
    val path = s"$tmp/search_vacsparse"
    SearchQueries.writeSearchIndex(spark, sfDir, "search_vacsparse_idx", path)
    // simulate the post-carry numbering: the first committed epoch starts
    // at v41 (a carried lineage), later mutations continue densely
    val e0 = graft.sources.IndexManifest.next(spark, path).copy(version = 41L)
    graft.sources.IndexManifest.commit(spark, path, e0)
    val ids = Tables.documents(spark, sfDir).filter(col("doc_id") % 7 === 3)
      .select("doc_id").collect().map(_.getLong(0))
    SearchQueries.deleteFromSearchIndex(spark, "search_vacsparse_idx", path, Seq(ids(0))) // v42
    SearchQueries.deleteFromSearchIndex(spark, "search_vacsparse_idx", path, Seq(ids(1))) // v43
    SearchQueries.deleteFromSearchIndex(spark, "search_vacsparse_idx", path, Seq(ids(2))) // v44
    val asof43 = sorted(SearchQueries.bm25TopkFromIndexAsOf(
      spark, "search_vacsparse_idx", path, 43L))
    assert(t.vacuum(spark, path, keepEpochs = 1) >= 1)
    // inside the window: the one most recently superseded epoch serves
    assert(sorted(SearchQueries.bm25TopkFromIndexAsOf(
      spark, "search_vacsparse_idx", path, 43L)) == asof43)
    // outside: reclaimed, loud
    intercept[Exception] {
      SearchQueries.bm25TopkFromIndexAsOf(spark, "search_vacsparse_idx", path, 42L)
        .collect()
    }
    ()
  }

  test("exclusive-create landing: one racer wins, losers collide loudly, torn landings never serve and are set aside after the grace") {
    // every atomicity claim bottoms out in how the version pointer lands:
    // exactly one racer wins, losers fail loudly, a torn landing never
    // serves and is reclaimable after the grace
    val m = graft.sources.IndexManifest
    val anchor = s"$tmp/land"
    // basic commit → read round-trip
    val e1 = m.next(spark, anchor)
    m.commit(spark, anchor, e1.copy(stats = Some(s"$anchor/s1")))
    assert(m.current(spark, anchor).flatMap(_.stats).contains(s"$anchor/s1"))
    // sequential collision: the same version cannot land twice
    val err = intercept[IllegalArgumentException] {
      m.commit(spark, anchor, e1.copy(stats = Some(s"$anchor/loser")))
    }
    assert(err.getMessage.contains("single-writer"), err.getMessage)
    // RACING writers: 8 threads template the same next version and commit
    // simultaneously — exactly one winner, every loser loud,
    // deterministically (O_EXCL on the local FS). An earlier rename
    // landing drove 8 simultaneous renames through the local FS's
    // check-then-rename and produced two "winners" with crossed content.
    val eRace = m.next(spark, anchor)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val start = new java.util.concurrent.CountDownLatch(1)
    val threads = (1 to 8).map { i =>
      new Thread(() => {
        start.await()
        try {
          m.commit(spark, anchor, eRace.copy(stats = Some(s"$anchor/racer$i")))
          results.add(s"win:$i")
        } catch {
          case ex: IllegalArgumentException
              if ex.getMessage.contains("single-writer") ||
                ex.getMessage.contains("TORN") => results.add(s"lose:$i")
        }
      })
    }
    threads.foreach(_.start()); start.countDown(); threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    val wins = results.asScala.count(_.startsWith("win"))
    assert(wins == 1 && results.size == 8,
      s"the landing must have ONE winner: ${results.asScala.mkString(",")}")
    // the committed state is the one winner's complete epoch
    val cur = m.current(spark, anchor).get
    assert(cur.version == eRace.version && cur.stats.exists(_.contains("racer")))
    // TORN landing: a version file without the eot marker (a writer dead
    // between create and close) never serves — readers resolve the
    // previous epoch, as-of refuses loudly
    val tornName = f"v${cur.version + 1}%012d"
    val tornFile = new java.io.File(m.dir(anchor).stripPrefix("file:"), tornName)
    val w = new java.io.FileWriter(tornFile)
    w.write(s"version\t${cur.version + 1}\nlayout\t1\nstats\t$anchor/torn\n")
    w.close()
    assert(m.current(spark, anchor).contains(cur),
      "a torn landing must never resolve as the current epoch")
    assert(m.history(spark, anchor).forall(_.version <= cur.version))
    val tornErr = intercept[IllegalArgumentException] {
      m.at(spark, anchor, cur.version + 1)
    }
    assert(tornErr.getMessage.contains("TORN"), tornErr.getMessage)
    // a FRESH torn landing blocks its version loudly (may be a racer
    // mid-write)...
    val freshErr = intercept[IllegalArgumentException] {
      m.commit(spark, anchor, cur.copy(version = cur.version + 1))
    }
    assert(freshErr.getMessage.contains("TORN"), freshErr.getMessage)
    // ...and past the grace the retry sets it ASIDE (renamed, never
    // deleted — forensic evidence survives a misclassification) and lands
    assert(tornFile.setLastModified(
      System.currentTimeMillis() - m.TORN_GRACE_MS - 5000))
    m.commit(spark, anchor,
      cur.copy(version = cur.version + 1, stats = Some(s"$anchor/retry")))
    assert(m.current(spark, anchor).flatMap(_.stats).contains(s"$anchor/retry"))
    assert(new java.io.File(m.dir(anchor).stripPrefix("file:")).listFiles()
      .exists(_.getName.startsWith(s".torn_$tornName")),
      "the torn landing must be set aside, not destroyed")
    // crash injection: the injected crash fires before the landing, so a
    // crashed commit changes nothing
    val crashAnchor = s"$tmp/land_crash"
    m.commit(spark, crashAnchor,
      m.next(spark, crashAnchor).copy(stats = Some(s"$crashAnchor/base")))
    m.failCommitCountdown = 0
    intercept[RuntimeException] {
      m.commit(spark, crashAnchor, m.next(spark, crashAnchor))
    }
    assert(m.current(spark, crashAnchor).flatMap(_.stats).contains(s"$crashAnchor/base"))
  }

  test("writer lease: 8 racing first claims on a fresh anchor, exactly one wins and the lease names it") {
    // the lease's first claim lands through the manifest's exclusive
    // create, so racing claimants cannot both "win"
    val wl = graft.sources.WriterLease
    val anchor = s"$tmp/lease_race"
    val won = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val start = new java.util.concurrent.CountDownLatch(1)
    val threads = (1 to 8).map { i =>
      new Thread(() => {
        start.await()
        if (wl.acquire(spark, anchor, s"claimant-$i", ttlMs = 60000)) won.add(s"claimant-$i")
      })
    }
    threads.foreach(_.start()); start.countDown(); threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    assert(won.size == 1, s"exactly one claimant must win: ${won.asScala.mkString(",")}")
    assert(wl.current(spark, anchor).map(_.holder).contains(won.peek()))
    wl.release(spark, anchor, won.peek())
  }

  test("fold-deferred reclaim: a probe planned pre-fold executes post-fold; vacuum reclaims retired state") {
    import graft.operators.{DedupQueries, SimilarityQueries}
    val t = graft.sources.Tombstones
    def dirExists(p: String) =
      new java.io.File(p.stripPrefix("file:")).exists()
    // ---- flat family (IVF): the fold redirects the data pointer to an
    // epoch dir and now LEAVES the superseded dir for vacuum
    val ip = s"$tmp/ivf_defer"
    SimilarityQueries.writeIvfIndex(spark, sfDir, ip)
    val deleted = Tables.embeddings(spark, sfDir).filter(col("vec_id") % 13 === 7)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    SimilarityQueries.deleteFromIvfIndex(spark, ip, deleted)
    // plan the probe BEFORE the fold: its file listing resolves the
    // pre-fold data dir and tombstone fragments
    val preplanned = SimilarityQueries.ivfTopkFromIndex(spark, sfDir, ip)
    SimilarityQueries.compactIvfIndex(spark, ip) // deferred (default)
    assert(dirExists(ip), "deferred fold must leave the superseded data dir")
    // the pre-fold plan executes successfully post-fold — the fold is
    // invisible to in-flight readers (with eager reclaim this died
    // mid-plan on the deleted path)
    val pre = sorted(preplanned)
    assert(pre == sorted(SparkEntry.queries("ann_ivf_deleted")(spark, sfDir)))
    // ...and equals a freshly planned probe of the folded index
    assert(pre == sorted(SimilarityQueries.ivfTopkFromIndex(spark, sfDir, ip)))
    // vacuum reclaims the superseded default dir + folded fragments
    assert(t.vacuum(spark, ip, Some(ip)) >= 2)
    assert(!dirExists(ip), "vacuum must reclaim the superseded default dir")
    assert(pre == sorted(SimilarityQueries.ivfTopkFromIndex(spark, sfDir, ip)))
    // ---- bucketed location-anchored family (band): the swap retires the
    // old location; the carry epoch records it; vacuum honors keepEpochs
    val thr = DedupQueries.writeBandIndex(
      spark, sfDir, "band_defer", s"$tmp/band_defer")
    val docs = Tables.documents(spark, sfDir).filter(col("doc_id") < thr)
    DedupQueries.deleteFromBandIndex(spark, "band_defer",
      docs.filter(col("doc_id") % 17 === 4)
        .select("doc_id").collect().map(_.getLong(0)).toSeq)
    val loc1 = t.tableLocation(spark, "band_defer")
    val prePlannedBand = DedupQueries.bandIndexFrame(spark, "band_defer")
    val preBand = prePlannedBand.count()
    DedupQueries.compactBandIndex(spark, "band_defer") // deferred
    val loc2 = t.tableLocation(spark, "band_defer")
    assert(loc2 != loc1 && dirExists(loc1),
      "deferred fold must leave the superseded location")
    assert(dirExists(graft.sources.IndexManifest.dir(loc1)),
      "…and its manifest, for in-flight pre-fold plans")
    assert(prePlannedBand.count() == preBand,
      "a probe planned pre-fold must execute post-fold")
    // the carry epoch records the retirement
    val carry = graft.sources.IndexManifest.current(spark, loc2).get
    assert(carry.retired == Vector(loc1), carry.toString)
    // keepEpochs = 1 protects the most recent commit's retirements…
    assert(t.vacuum(spark, loc2, keepEpochs = 1) == 0L)
    assert(dirExists(loc1))
    // …keepEpochs = 0 reclaims the retired location whole (dir, manifest,
    // sidecar) and probes are untouched
    assert(t.vacuum(spark, loc2) >= 1L)
    assert(!dirExists(loc1) &&
      !dirExists(graft.sources.IndexManifest.dir(loc1)))
    assert(DedupQueries.bandIndexFrame(spark, "band_defer").count() == preBand)
    // chained folds reclaim recursively: fold again (pure maintenance),
    // then vacuum walks loc2's retirement through its dead manifest
    DedupQueries.compactBandIndex(spark, "band_defer")
    val loc3 = t.tableLocation(spark, "band_defer")
    assert(dirExists(loc2))
    assert(t.vacuum(spark, loc3) >= 1L)
    assert(!dirExists(loc2) && dirExists(loc3))
  }

  test("search stats track the SERVE set: sub-floor updates and removed-id redeliveries never inflate n_docs") {
    // review-found (second pass): the update path's stats ADD side used a
    // raw batch-row count, so a doc whose new text lands no postings (a
    // removal-by-update) kept its +1 n_docs forever, and a removed id
    // redelivered sub-floor re-inflated the stats on every delivery. The
    // add side now derives from the batch's POSTINGS — stats always
    // describe what serves.
    import graft.operators.SearchQueries
    val path = s"$tmp/search_statsfloor"
    SearchQueries.writeSearchIndex(spark, sfDir, "search_statsfloor", path)
    def stats() = spark.read.parquet(
      graft.sources.IndexManifest.current(spark, path).flatMap(_.stats)
        .getOrElse(s"${path}_stats"))
      .select("n_docs", "tt").head
    val docs = Tables.documents(spark, sfDir)
    val x = docs.filter(col("doc_id") % 23 === 5).select("doc_id", "text")
      .limit(1).collect().head
    val (xid, dlx) = (x.getLong(0), x.getString(1).split(" ").length.toLong)
    val st0 = stats()
    // removal-by-update: the stats drop by exactly the removed doc's own
    // contribution, and probes equal a rebuild over the survivors
    SearchQueries.bufferSearchUpdate(spark, "search_statsfloor", path,
      docs.filter(col("doc_id") === xid)
        .select(col("doc_id"), lit(null).cast("string").as("text"), col("lang")))
    val st1 = stats()
    assert(st1.getLong(0) == st0.getLong(0) - 1 &&
      st1.getLong(1) == st0.getLong(1) - dlx, s"$st0 -> $st1 (dlx=$dlx)")
    val rb = s"$tmp/search_statsfloor_rb"
    SearchQueries.writeSearchIndexWhere(
      spark, sfDir, "search_statsfloor_rb", rb, col("doc_id") =!= xid)
    assert(sorted(SearchQueries.bm25TopkFromIndex(spark, "search_statsfloor", path)) ==
      sorted(SearchQueries.bm25TopkFromIndex(spark, "search_statsfloor_rb", rb)))
    // removed-id sub-floor redelivery: a mixed batch changes the stats by
    // the NORMAL doc's delta only — the dead id contributes 0 every time
    SearchQueries.compactSearchIndex(spark, "search_statsfloor", path)
    val z = docs.filter(col("doc_id") % 23 === 7).select("doc_id", "text")
      .limit(1).collect().head
    val (zid, dlz) = (z.getLong(0), z.getString(1).split(" ").length.toLong)
    val st2 = stats()
    SearchQueries.bufferSearchUpdate(spark, "search_statsfloor", path,
      docs.filter(col("doc_id") === xid)
        .select(col("doc_id"), lit(null).cast("string").as("text"), col("lang"))
      .unionByName(docs.filter(col("doc_id") === zid)
        .select(col("doc_id"), concat(col("text"), lit(" q")).as("text"), col("lang"))))
    val st3 = stats()
    assert(st3.getLong(0) == st2.getLong(0) &&
      st3.getLong(1) == st2.getLong(1) + 1, s"$st2 -> $st3")
  }

  test("index layout version: a layout-from-the-future epoch refuses loudly at every read") {
    val m = graft.sources.IndexManifest
    val anchor = s"$tmp/layout_idx"
    m.commit(spark, anchor, m.next(spark, anchor))
    // current epochs carry the library's layout implicitly
    assert(m.current(spark, anchor).exists(_.layout == m.CURRENT_LAYOUT))
    // a manifest written by a NEWER library layout (hand-written complete
    // file) refuses with the NAMED error at current/at/history — never a
    // confusing downstream schema failure
    val f99 = new java.io.File(m.dir(anchor).stripPrefix("file:"), "v000000000002")
    val w = new java.io.FileWriter(f99)
    w.write("version\t2\nlayout\t99\nbasegen\t0\neot\t1\n")
    w.close()
    intercept[m.UnsupportedIndexLayoutException] { m.current(spark, anchor) }
    intercept[m.UnsupportedIndexLayoutException] { m.at(spark, anchor, 2L) }
    intercept[m.UnsupportedIndexLayoutException] { m.history(spark, anchor) }
    // an ABSENT layout field parses as layout 1 (pre-field manifests)
    assert(f99.delete())
    val fOld = new java.io.File(m.dir(anchor).stripPrefix("file:"), "v000000000003")
    val w2 = new java.io.FileWriter(fOld)
    w2.write("version\t3\nbasegen\t0\neot\t1\n")
    w2.close()
    assert(m.current(spark, anchor).exists(e => e.version == 3L && e.layout == 1))
    // next() STAMPS the writing library's layout rather than carrying the
    // previous epoch's forward (review-found: the new epoch's own
    // artifacts are written in THIS library's format — carrying an older
    // number would let an old reader accept and misread them)
    assert(m.next(spark, anchor).layout == m.CURRENT_LAYOUT)
    // and the write side refuses a future layout too
    intercept[m.UnsupportedIndexLayoutException] {
      m.commit(spark, anchor, m.next(spark, anchor).copy(layout = 99))
    }
  }

  test("layout migration: a past-layout index re-encodes under the current layout in one fold — probe parity, loud as-of, idempotent") {
    import graft.operators.SearchQueries
    val m = graft.sources.IndexManifest
    val t = graft.sources.Tombstones
    val path = s"$tmp/layout_mig"
    val tbl = "layout_mig_idx"
    // built + mutated under the OLD library (layout 1): the delete lands
    // the manifest epoch that carries the writer's layout stamp
    SearchQueries.writeSearchIndex(spark, sfDir, tbl, path)
    val deleted = Tables.documents(spark, sfDir).filter(col("doc_id") % 7 === 3)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    SearchQueries.deleteFromSearchIndex(spark, tbl, path, deleted)
    assert(m.current(spark, path).exists(_.layout == 1))
    val probed = sorted(SearchQueries.bm25TopkFromIndex(spark, tbl, path))
    try {
      // the library upgrades: CURRENT_LAYOUT becomes 2. The standing index
      // is now a PAST layout — it keeps serving under the compat window
      m.layoutForTest = 2
      assert(sorted(SearchQueries.bm25TopkFromIndex(spark, tbl, path)) == probed)
      // migration IS the family's fold, landing through the normal commit
      // path (which stamps CURRENT_LAYOUT) — true means a rewrite ran
      assert(t.migrateIndexLayout(spark, path) {
        SearchQueries.compactSearchIndex(spark, tbl, path)
      })
      assert(m.current(spark, path).exists(_.layout == 2))
      // probe parity: the migrated index serves exactly what it served
      // pre-migration, which itself equals a fresh build over the
      // survivors (the registered inline deleted entry)
      assert(sorted(SearchQueries.bm25TopkFromIndex(spark, tbl, path)) == probed)
      assert(probed == sorted(SparkEntry.queries("search_bm25_deleted")(spark, sfDir)))
      // as-of travel across the migration refuses loudly like any fold
      // (the generation guard — the physical build state no longer exists)
      val err = intercept[IllegalArgumentException] {
        SearchQueries.bm25TopkFromIndexAsOf(spark, tbl, path, 0L)
      }
      assert(err.getMessage.contains("generation"), err.getMessage)
      // idempotent: an index already at the current layout never re-folds
      assert(!t.migrateIndexLayout(spark, path) {
        fail("migrate must not fold an index already at the current layout")
      })
      // and to a DOWNGRADED reader the migrated epoch is now a
      // layout-from-the-future: it refuses with the named error instead
      // of misreading the newer physical contract
      m.layoutForTest = 1
      intercept[m.UnsupportedIndexLayoutException] {
        SearchQueries.bm25TopkFromIndex(spark, tbl, path).collect()
      }
      ()
    } finally m.layoutForTest = 1
  }

  test("layout migration: a location-anchored family re-anchors through its fold — the carry epoch carries the new layout") {
    import graft.operators.DedupQueries
    val m = graft.sources.IndexManifest
    val t = graft.sources.Tombstones
    // built + stream-ingested under layout 1 (the ingest commits the
    // manifest whose epoch carries the stamp AND the fence)
    val thr = DedupQueries.writeBandIndex(
      spark, sfDir, "layout_mig_band", s"$tmp/layout_mig_band")
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val b = docs.filter(col("doc_id") % 13 === 1 && col("doc_id") < thr)
      .select(col("doc_id") + 9100000L as "doc_id", col("text"))
    assert(DedupQueries.ingestBandBatch(b, "layout_mig_band", 0L, "lm"))
    def loc() = t.tableLocation(spark, "layout_mig_band")
    assert(m.current(spark, loc()).exists(_.layout == 1))
    val probed = sorted(DedupQueries.bandIndexFrame(spark, "layout_mig_band"))
    try {
      m.layoutForTest = 2
      // the fold MOVES the anchor — anchorAfter re-resolves it for the
      // post-fold stamp check; the carry epoch at the destination is
      // stamped with the writing library's layout
      assert(t.migrateIndexLayout(spark, loc(), Some(() => loc())) {
        DedupQueries.compactBandIndex(spark, "layout_mig_band")
      })
      assert(m.current(spark, loc()).exists(_.layout == 2))
      // probe parity across the migration
      assert(sorted(DedupQueries.bandIndexFrame(spark, "layout_mig_band")) == probed)
      // the ingest fence rides the migration: the folded batch stays fenced
      assert(!DedupQueries.ingestBandBatch(b, "layout_mig_band", 0L, "lm"),
        "a replay of the migrated-through batch must still fence")
      // idempotent at the current layout
      assert(!t.migrateIndexLayout(spark, loc(), Some(() => loc())) {
        fail("migrate must not fold an index already at the current layout")
      })
      ()
    } finally m.layoutForTest = 1
  }
}
