package graft

import graft.streaming.EventsStream
import org.apache.spark.sql.functions._

/** Streaming path: the watermarked streaming aggregation must produce
  * exactly the batch `window()` result on the same bounded input (and the
  * batch twin is oracle-verified, closing the loop).
  */
@Slow
class StreamingSpec extends SparkSpec {

  test("streaming tumbling counts equal batch tumbling counts") {
    val streamed = EventsStream.runTumblingOnce(spark, sfDir, "stream_tumbling_test")
      .orderBy("hour_start", "event_type")
      .collect()
    val batch = Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("hour_start"), col("event_type"), col("n"))
      .orderBy("hour_start", "event_type")
      .collect()
    assert(streamed.nonEmpty)
    assert(streamed.toSeq == batch.toSeq)
  }

  test("streaming session windows equal batch session windows") {
    val streamed = EventsStream.runOnce(
      EventsStream.sessionCounts(EventsStream.readEvents(spark, sfDir)),
      "stream_session_test", "complete")
      .orderBy("user_id", "session_start")
      .collect()
    val batch = Tables.events(spark, sfDir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"), col("n_events"))
      .orderBy("user_id", "session_start")
      .collect()
    assert(streamed.nonEmpty)
    assert(streamed.toSeq == batch.toSeq)
  }

  test("streaming dropDuplicates removes repeated keys within the watermark") {
    val deduped = EventsStream.runOnce(
      EventsStream.dedupedEvents(EventsStream.readEvents(spark, sfDir)),
      "stream_dedup_test", "append")
    val batchDistinct = Tables.events(spark, sfDir)
      .select("event_id").distinct().count()
    assert(deduped.count() == batchDistinct)
  }

  test("stream-static join enrichment equals the batch join") {
    import spark.implicits._
    val dim = Seq(
      ("view", "passive"), ("click", "active"), ("purchase", "active"),
      ("signup", "active"), ("error", "ops")).toDF("event_type", "category")
    val streamed = EventsStream.runOnce(
      EventsStream.enrichedCounts(EventsStream.readEvents(spark, sfDir), dim),
      "stream_enrich_test", "complete")
      .orderBy("hour_start", "category")
      .collect()
    val batch = Tables.events(spark, sfDir)
      .join(dim, "event_type")
      .groupBy(window(col("ts"), "1 hour"), col("category"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("hour_start"), col("category"), col("n"))
      .orderBy("hour_start", "category")
      .collect()
    assert(streamed.nonEmpty)
    assert(streamed.toSeq == batch.toSeq)
  }

  test("streaming checkpoint makes re-runs idempotent (exactly-once resume)") {
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    def drainOnce(): Unit = EventsStream.withNanosLongConf(spark) {
      val q = EventsStream.dedupedEvents(EventsStream.readEvents(spark, sfDir))
        .select("event_id", "user_id", "event_type")
        .writeStream.format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drainOnce()
    val n1 = spark.read.parquet(s"$base/out").count()
    drainOnce() // same checkpoint: source offsets committed, nothing re-emitted
    val n2 = spark.read.parquet(s"$base/out").count()
    assert(n1 > 0 && n2 == n1, s"expected idempotent resume, got $n1 then $n2")
  }

  test("foreachBatch sink lands every event in its day partition") {
    val base = java.nio.file.Files.createTempDirectory("graft-feb").toString
    EventsStream.runForeachBatchPartitioned(spark, sfDir, s"$base/out", s"$base/ckpt")
    val out = spark.read.parquet(s"$base/out")
    assert(out.count() == Tables.events(spark, sfDir).count())
    val days = new java.io.File(s"$base/out").listFiles()
      .count(_.getName.startsWith("day="))
    assert(days >= 1)
    // the dynamic overwrite mode rides on the write, not on the shared
    // session (getOption would report the default of a never-set key)
    assert(!spark.conf.getAll.contains("spark.sql.sources.partitionOverwriteMode"))
  }

  test("mapGroupsWithState running counts equal batch per-user counts; state bounded") {
    // Update mode can emit a user several times (per-batch updates plus a
    // final evicted tally), so compare each user's LAST tally — max(n_events)
    // — against the batch totals.
    val (table, progress) = EventsStream.runOnceWithProgress(
      EventsStream.userRunningCounts(EventsStream.readEvents(spark, sfDir)),
      "stream_state_test", "update")
    val streamed = table
      .groupBy("user_id")
      .agg(max("n_events").as("n_events"), max("last_ts_us").as("last_ts_us"))
      .orderBy("user_id")
      .collect()
    val batch = Tables.events(spark, sfDir)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), max(unix_micros(col("ts"))).as("last_ts_us"))
      .orderBy("user_id")
      .collect()
    assert(streamed.nonEmpty)
    assert(streamed.toSeq == batch.toSeq)
    // EventTimeTimeout bound: users idle past the horizon are EVICTED when
    // the final no-data batch advances the watermark — the store must end
    // holding exactly the non-evicted users, strictly fewer than all users.
    val distinctUsers = Tables.events(spark, sfDir).select("user_id").distinct().count()
    val evictedUsers = table.filter(col("evicted")).select("user_id").distinct().count()
    val stateRows = progress.stateOperators.headOption.map(_.numRowsTotal).getOrElse(-1L)
    assert(evictedUsers > 0, "no evictions fired — EventTimeTimeout not exercised")
    assert(stateRows == distinctUsers - evictedUsers,
      s"state rows $stateRows != $distinctUsers users - $evictedUsers evicted")
  }

  test("transformWithState running counts (RocksDB) equal MGWS semantics and batch") {
    // the Spark 4 arbitrary-state API twin of the mapGroupsWithState test:
    // same output contract, eviction via explicit event-time timers, state
    // on the RocksDB provider (transformWithState requires it)
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val (table, _) = EventsStream.runOnceWithProgress(
        EventsStream.userRunningCountsTws(EventsStream.readEvents(spark, sfDir)),
        "stream_tws_test", "update")
      val streamed = table
        .groupBy("user_id")
        .agg(max("n_events").as("n_events"), max("last_ts_us").as("last_ts_us"))
        .orderBy("user_id")
        .collect()
      val batch = Tables.events(spark, sfDir)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"), max(unix_micros(col("ts"))).as("last_ts_us"))
        .orderBy("user_id")
        .collect()
      assert(streamed.nonEmpty)
      assert(streamed.toSeq == batch.toSeq)
      // timers fired: idle users were evicted with their final tally
      assert(table.filter(col("evicted")).count() > 0,
        "no eviction timer fired — event-time timers not exercised")
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("stream-stream interval join equals the batch interval join") {
    val streamed = EventsStream.runOnce(
      EventsStream.viewPurchaseAttribution(EventsStream.readEvents(spark, sfDir)),
      "stream_ssjoin_test", "append")
      .orderBy("user_id", "view_id", "purchase_id")
      .collect()
    val ev = Tables.events(spark, sfDir)
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
    val batch = views.join(purchases,
      expr("user_id = p_user_id AND purchase_ts >= view_ts " +
        "AND purchase_ts <= view_ts + interval 1 hour"))
      .select(col("user_id"), col("view_id"), col("purchase_id"),
        col("view_ts"), col("purchase_ts"))
      .orderBy("user_id", "view_id", "purchase_id")
      .collect()
    assert(streamed.nonEmpty)
    assert(streamed.toSeq == batch.toSeq)
  }

  test("stream-stream LEFT OUTER join: inner part exact, unmatched views watermark-gated") {
    val streamed = EventsStream.runOnce(
      EventsStream.viewPurchaseAttributionOuter(EventsStream.readEvents(spark, sfDir)),
      "stream_ssjoin_outer_test", "append")
    val ev = Tables.events(spark, sfDir)
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
    val batchOuter = views.join(purchases,
      expr("user_id = p_user_id AND purchase_ts >= view_ts " +
        "AND purchase_ts <= view_ts + interval 1 hour"), "left_outer")
    // matched rows are not watermark-gated: they must equal the batch inner part
    val sInner = streamed.filter(col("purchase_id").isNotNull)
      .orderBy("user_id", "view_id", "purchase_id").collect()
    val bInner = batchOuter.filter(col("purchase_id").isNotNull)
      .select(streamed.columns.map(col): _*)
      .orderBy("user_id", "view_id", "purchase_id").collect()
    assert(sInner.nonEmpty && sInner.toSeq == bInner.toSeq)
    // unmatched views emit ONLY after the watermark proves no match can
    // arrive — the emitted set must be a nonempty subset of the batch's
    // unmatched views (rows near stream end stay withheld)
    val sNull = streamed.filter(col("purchase_id").isNull)
      .select("view_id").collect().map(_.getLong(0)).toSet
    val bNull = batchOuter.filter(col("purchase_id").isNull)
      .select("view_id").collect().map(_.getLong(0)).toSet
    assert(sNull.nonEmpty, "no unmatched views emitted — outer path not exercised")
    assert(sNull.subsetOf(bNull), s"streamed emitted non-unmatched views: ${sNull -- bNull}")
  }

  test("dropDuplicatesWithinWatermark: dups collapse, state evicts past the horizon") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    def t(h: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
    val mem = MemoryStream[(Long, java.sql.Timestamp)](spark)
    val deduped = EventsStream.dedupedEventsBounded(
      mem.toDF.toDF("event_id", "ts"))
    val q = deduped.writeStream.format("memory")
      .queryName("stream_dwm_test").outputMode("append").start()
    try {
      mem.addData((1L, t(0)), (1L, t(0)), (2L, t(0))) // in-batch dup collapses
      q.processAllAvailable()
      mem.addData((3L, t(10))) // watermark → 09:00, keys 1/2 expire (t0 + 1h)
      q.processAllAvailable()
      mem.addData((1L, t(10))) // re-arrival BEYOND the horizon re-emits: the
      q.processAllAvailable() //  documented bounded-state semantics trade
      val out = spark.table("stream_dwm_test")
        .select("event_id").collect().map(_.getLong(0)).toSeq.sorted
      assert(out == Seq(1L, 1L, 2L, 3L))
      val stateRows = q.lastProgress.stateOperators.head.numRowsTotal
      assert(stateRows <= 2, s"state not evicted: $stateRows rows held")
    } finally q.stop()
  }

  test("bounded stream dedup equals batch distinct on the events replay") {
    val streamed = EventsStream.runOnce(
      EventsStream.dedupedEventsBounded(EventsStream.readEvents(spark, sfDir))
        .select("event_id"),
      "stream_dwm_events_test", "append").count()
    val batch = Tables.events(spark, sfDir).select("event_id").distinct().count()
    assert(streamed == batch && streamed > 0)
  }

  test("foreachBatch as-of enrichment equals the one-shot batch as-of join") {
    // the production shape closing §2.13 into §2.9: every micro-batch is
    // enriched through the NATIVE as-of exec against the SCD2 dimension
    // that q_scd2_intervals builds (and the oracle hash-verifies)
    val dim = SparkEntry.queries("q_scd2_intervals")(spark, sfDir)
      .select(col("user_id").as("dim_user_id"), col("err_id"), col("valid_from_us"))
    val base = java.nio.file.Files.createTempDirectory("graft-asof-feb").toString
    EventsStream.runAsofEnriched(spark, sfDir, s"$base/out", s"$base/ckpt",
      dim, "dim_user_id", "valid_from_us")
    val batchLeft = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"))
    val batch = graft.plans.Asof.join(batchLeft, dim,
      Seq("user_id"), Seq("dim_user_id"), "ts_us", "valid_from_us")
    val cols = batch.columns.map(col).toSeq
    val streamed = spark.read.parquet(s"$base/out")
      .select(cols: _*).orderBy(cols: _*).collect()
    val direct = batch.orderBy(cols: _*).collect()
    assert(streamed.nonEmpty)
    assert(streamed.toSeq == direct.toSeq)
  }

  test("streaming incremental dedup joins micro-batches against the band index") {
    // the streaming twin of dedup_incremental: arriving documents are
    // banded per micro-batch and joined against the persisted BUCKETED
    // corpus index — candidates must equal the inline batch derivation,
    // and the drain must actually run in multiple micro-batches
    import graft.operators.DedupQueries
    import graft.streaming.DocumentsStream
    val base = java.nio.file.Files.createTempDirectory("graft-docstream").toString
    val thr = DedupQueries.writeBandIndex(spark, sfDir, "band_idx_stream", s"$base/idx")
    val d = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    // the simulated arriving batch, split over several files → several triggers
    d.filter(col("doc_id") >= thr).repartition(3)
      .write.mode("overwrite").parquet(s"$base/in")
    DocumentsStream.runIncrementalDedup(
      spark, s"$base/in", "band_idx_stream", s"$base/out", s"$base/ckpt")
    val commits = new java.io.File(s"$base/ckpt/commits").listFiles()
      .count(f => f.getName.forall(_.isDigit))
    assert(commits >= 2, s"expected several micro-batches, got $commits")
    val got = spark.read.parquet(s"$base/out")
      .orderBy("doc_id", "c_id").collect()
    val all = DedupQueries.bandKeysOf(DedupQueries.signaturesOf(d))
    val inline = all.filter(col("doc_id") >= thr)
      .join(all.filter(col("doc_id") < thr).select(col("doc_id").as("c_id"), col("bk")), "bk")
      .select("doc_id", "c_id").distinct()
      .orderBy("doc_id", "c_id").collect()
    assert(got.nonEmpty && got.toSeq == inline.toSeq)
  }

  test("streaming ANN probe from the persisted index equals the batch top-k") {
    // micro-batched serving: arriving query vectors probe the persisted
    // IVF index per trigger; per-query independence makes the multi-batch
    // drain exactly equal to the one-shot batch probe (= ann_ivf_topk)
    import graft.operators.SimilarityQueries
    import graft.streaming.EmbeddingsStream
    val base = java.nio.file.Files.createTempDirectory("graft-vecstream").toString
    SimilarityQueries.writeIvfIndex(spark, sfDir, s"$base/idx")
    Tables.embeddings(spark, sfDir).filter(col("vec_id") < 10).repartition(3)
      .write.mode("overwrite").parquet(s"$base/in")
    EmbeddingsStream.runAnnProbe(
      spark, sfDir, s"$base/in", s"$base/idx", s"$base/out", s"$base/ckpt")
    val commits = new java.io.File(s"$base/ckpt/commits").listFiles()
      .count(f => f.getName.forall(_.isDigit))
    assert(commits >= 2, s"expected several micro-batches, got $commits")
    val direct = SparkEntry.queries("ann_ivf_topk")(spark, sfDir)
    val cols = direct.columns.map(col).toSeq
    val got = spark.read.parquet(s"$base/out")
      .select(cols: _*).orderBy(cols: _*).collect()
    assert(got.nonEmpty && got.toSeq == direct.orderBy(cols: _*).collect().toSeq)
  }

  test("streaming semantic decontamination equals the batch verdicts") {
    // arriving training vectors score against the broadcast eval set per
    // trigger; per-vector independence makes the drain equal one-shot
    // batch scoring, and ranking the drained verdicts reproduces the
    // registered top-100 review queue
    import graft.operators.SimilarityQueries
    import graft.streaming.EmbeddingsStream
    import graft.functions.VectorOps
    val base = java.nio.file.Files.createTempDirectory("graft-decontamstream").toString
    Tables.embeddings(spark, sfDir).filter(col("vec_id") % 10 =!= 0).repartition(3)
      .write.mode("overwrite").parquet(s"$base/in")
    EmbeddingsStream.runSemanticDecontam(
      spark, sfDir, s"$base/in", s"$base/out", s"$base/ckpt")
    val commits = new java.io.File(s"$base/ckpt/commits").listFiles()
      .count(f => f.getName.forall(_.isDigit))
    assert(commits >= 2, s"expected several micro-batches, got $commits")
    val got = spark.read.parquet(s"$base/out")
      .orderBy("train_vec_id").collect()
    val direct = SimilarityQueries.decontamVerdicts(
        VectorOps.normalized(spark, sfDir).filter(col("vec_id") % 10 =!= 0),
        SimilarityQueries.decontamEvalSet(spark, sfDir))
      .orderBy("train_vec_id")
      .select("train_vec_id", "eval_vec_id", "max_cos", "flagged").collect()
    assert(got.nonEmpty &&
      got.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq ==
        direct.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq)
    // the registered review queue is a rank over the drained verdicts
    val queue = spark.read.parquet(s"$base/out")
      .orderBy(col("max_cos").desc, col("train_vec_id")).limit(100)
      .select("train_vec_id", "eval_vec_id", "max_cos", "flagged").collect()
    val entry = SparkEntry.queries("pipeline_decontaminate_semantic")(spark, sfDir)
      .collect()
    assert(queue.toSeq == entry.toSeq)
  }

  test("streaming cross-modal probe from the persisted index equals batch") {
    // arriving text-query vectors rank ASSETS (ivf probe + metadata
    // enrich) per trigger; per-query independence makes the drain equal
    // the one-shot multimodal_crossmodal_topk
    import graft.operators.SimilarityQueries
    import graft.streaming.EmbeddingsStream
    val base = java.nio.file.Files.createTempDirectory("graft-xmstream").toString
    SimilarityQueries.writeIvfIndex(spark, sfDir, s"$base/idx")
    Tables.embeddings(spark, sfDir).filter(col("vec_id") < 10).repartition(3)
      .write.mode("overwrite").parquet(s"$base/in")
    EmbeddingsStream.runCrossmodalProbe(
      spark, sfDir, s"$base/in", s"$base/idx", s"$base/out", s"$base/ckpt")
    val commits = new java.io.File(s"$base/ckpt/commits").listFiles()
      .count(f => f.getName.forall(_.isDigit))
    assert(commits >= 2, s"expected several micro-batches, got $commits")
    val direct = SparkEntry.queries("multimodal_crossmodal_topk")(spark, sfDir)
    val cols = direct.columns.map(col).toSeq
    val got = spark.read.parquet(s"$base/out")
      .select(cols: _*).orderBy(cols: _*).collect()
    assert(got.nonEmpty && got.toSeq == direct.orderBy(cols: _*).collect().toSeq)
  }

  test("streaming beam probe from the persisted trained graph equals batch") {
    // the graph-serving twin of the IVF-probe test: arriving query vectors
    // beam-walk the persisted TRAINED undirected graph per trigger; the
    // multi-batch drain must equal the one-shot inline refined beam entry
    import graft.operators.SimilarityQueries
    import graft.streaming.EmbeddingsStream
    val base = java.nio.file.Files.createTempDirectory("graft-beamstream").toString
    SimilarityQueries.writeRefinedKnnGraph(spark, sfDir, s"$base/graph")
    Tables.embeddings(spark, sfDir).filter(col("vec_id") < 10).repartition(3)
      .write.mode("overwrite").parquet(s"$base/in")
    EmbeddingsStream.runGraphBeamProbe(
      spark, sfDir, s"$base/in", s"$base/graph", s"$base/out", s"$base/ckpt")
    val commits = new java.io.File(s"$base/ckpt/commits").listFiles()
      .count(f => f.getName.forall(_.isDigit))
    assert(commits >= 2, s"expected several micro-batches, got $commits")
    val direct = SparkEntry.queries("ann_graph_beam_refined_topk")(spark, sfDir)
    val cols = direct.columns.map(col).toSeq
    val got = spark.read.parquet(s"$base/out")
      .select(cols: _*).orderBy(cols: _*).collect()
    assert(got.nonEmpty && got.toSeq == direct.orderBy(cols: _*).collect().toSeq)
  }

  test("streaming BM25 probe from the inverted index equals the batch top-k") {
    // the lexical twin of the ANN-probe test: arriving keyword queries are
    // served from the persisted postings table per trigger, one file = one
    // query; the multi-batch drain must equal the one-shot inline query
    import graft.operators.SearchQueries
    import graft.streaming.SearchStream
    val base = java.nio.file.Files.createTempDirectory("graft-searchstream").toString
    SearchQueries.writeSearchIndex(spark, sfDir, "search_idx_s", s"$base/idx")
    val queries = Seq(
      0L -> Seq("spark", "join", "fast"), 1L -> Seq("hash", "table", "scan"),
      2L -> Seq("vector", "stream", "window"), 3L -> Seq("customer", "order", "query"))
    queries.foreach { case (q, ts) =>
      spark.createDataFrame(ts.map(t => (q, t))).toDF("q_id", "term")
        .coalesce(1).write.mode("append").parquet(s"$base/in")
    }
    SearchStream.runBm25Probe(
      spark, s"$base/in", "search_idx_s", s"$base/idx", s"$base/out", s"$base/ckpt")
    val commits = new java.io.File(s"$base/ckpt/commits").listFiles()
      .count(f => f.getName.forall(_.isDigit))
    assert(commits >= 2, s"expected several micro-batches, got $commits")
    val direct = SparkEntry.queries("search_bm25_topk")(spark, sfDir)
    val cols = direct.columns.map(col).toSeq
    val got = spark.read.parquet(s"$base/out")
      .select(cols: _*).orderBy(cols: _*).collect()
    assert(got.nonEmpty && got.toSeq == direct.orderBy(cols: _*).collect().toSeq)
  }

  test("streaming index ingest: drained batches serve exactly as a one-shot build") {
    // the EXACTLY-ONCE ingest twins: a bootstrap index absorbs the
    // remainder of the corpus as streamed micro-batches (one file = one
    // batch, each ONE atomic manifest commit carrying rows + stats + the
    // batch-id high-water mark); after the drain, probes must equal the
    // registered full-corpus entries row-for-row — and re-draining the
    // SAME input against the advanced mark must change nothing (the
    // at-least-once replay fence, unit-pinned across folds in
    // TombstoneSpec)
    import graft.operators.{SearchQueries, SimilarityQueries}
    import graft.streaming.{EmbeddingsStream, SearchStream}
    val base = java.nio.file.Files.createTempDirectory("graft-ingeststream").toString
    SearchQueries.writeSearchIndexWhere(
      spark, sfDir, "search_idx_ing", s"$base/idx", col("doc_id") % 3 === 0)
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text", "lang")
    Seq(1, 2).foreach { m =>
      docs.filter(col("doc_id") % 3 === m)
        .coalesce(1).write.mode("append").parquet(s"$base/in")
    }
    SearchStream.runSearchIngest(
      spark, s"$base/in", "search_idx_ing", s"$base/idx", s"$base/ckpt")
    val commits = new java.io.File(s"$base/ckpt/commits").listFiles()
      .count(f => f.getName.forall(_.isDigit))
    assert(commits >= 2, s"expected several micro-batches, got $commits")
    val direct = SparkEntry.queries("search_bm25_topk")(spark, sfDir)
    val cols = direct.columns.map(col).toSeq
    def probe() = SearchQueries.bm25TopkFromIndex(spark, "search_idx_ing", s"$base/idx")
      .select(cols: _*).orderBy(cols: _*).collect().toSeq
    val drained = probe()
    assert(drained.nonEmpty && drained == direct.orderBy(cols: _*).collect().toSeq)
    // a RESTART on the same checkpoint is the legitimate recovery path: no
    // new files, no batches, nothing changes
    SearchStream.runSearchIngest(
      spark, s"$base/in", "search_idx_ing", s"$base/idx", s"$base/ckpt")
    assert(probe() == drained)
    // a FRESH checkpoint is a new lineage whose batch ids restart from 0 —
    // indistinguishable from new data, so the ingest REFUSES loudly
    // instead of silently fencing (which would drop genuinely-new docs);
    // the probe is unchanged because the refusal commits nothing
    val e = intercept[Exception] {
      SearchStream.runSearchIngest(
        spark, s"$base/in", "search_idx_ing", s"$base/idx", s"$base/ckpt2")
    }
    assert(e.getMessage.contains("lineage") ||
      Option(e.getCause).exists(_.getMessage.contains("lineage")), e.getMessage)
    assert(probe() == drained)
    // ---- IVF twin ------------------------------------------------------
    SimilarityQueries.writeIvfIndexWhere(
      spark, sfDir, s"$base/ividx", col("vec_id") % 2 === 0)
    val em = Tables.embeddings(spark, sfDir)
    Seq(1, 3).foreach { m =>
      em.filter(col("vec_id") % 4 === m)
        .coalesce(1).write.mode("append").parquet(s"$base/ivin")
    }
    EmbeddingsStream.runAnnIngest(
      spark, sfDir, s"$base/ivin", s"$base/ividx", s"$base/ivckpt")
    val idirect = SparkEntry.queries("ann_ivf_topk")(spark, sfDir)
    val icols = idirect.columns.map(col).toSeq
    def iprobe() = SimilarityQueries.ivfTopkFromIndex(spark, sfDir, s"$base/ividx")
      .select(icols: _*).orderBy(icols: _*).collect().toSeq
    val idrained = iprobe()
    assert(idrained.nonEmpty && idrained == idirect.orderBy(icols: _*).collect().toSeq)
    // same-checkpoint restart: clean no-op; fresh checkpoint: loud refusal
    EmbeddingsStream.runAnnIngest(
      spark, sfDir, s"$base/ivin", s"$base/ividx", s"$base/ivckpt")
    assert(iprobe() == idrained)
    val ie = intercept[Exception] {
      EmbeddingsStream.runAnnIngest(
        spark, sfDir, s"$base/ivin", s"$base/ividx", s"$base/ivckpt2")
    }
    assert(ie.getMessage.contains("lineage") ||
      Option(ie.getCause).exists(_.getMessage.contains("lineage")), ie.getMessage)
    assert(iprobe() == idrained)
  }

  test("streaming winnow ingest drains into the index exactly once") {
    // the third family's ingest twin: streamed document batches land in
    // the winnow index through the same (checkpoint, batch-id) fence;
    // after the drain the probe-visible frame equals the eagerly-buffered
    // twin's, and a same-checkpoint restart is a clean no-op
    import graft.operators.DedupQueries
    import graft.streaming.DocumentsStream
    val base = java.nio.file.Files.createTempDirectory("graft-winingest").toString
    val thr = DedupQueries.writeWinnowIndex(
      spark, sfDir, "winnow_idx_ing", s"$base/idx")
    DedupQueries.writeWinnowIndex(spark, sfDir, "winnow_idx_ing_e", s"$base/idxe")
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val b1 = docs.filter(col("doc_id") % 13 === 1 && col("doc_id") < thr)
      .select(col("doc_id") + 5000000L as "doc_id", col("text"))
    val b2 = docs.filter(col("doc_id") % 13 === 4 && col("doc_id") < thr)
      .select(col("doc_id") + 6000000L as "doc_id", col("text"))
    Seq(b1, b2).foreach(_.coalesce(1).write.mode("append").parquet(s"$base/in"))
    DocumentsStream.runWinnowIngest(
      spark, s"$base/in", "winnow_idx_ing", s"$base/ckpt")
    DedupQueries.bufferWinnowUpdate(b1, "winnow_idx_ing_e")
    DedupQueries.bufferWinnowUpdate(b2, "winnow_idx_ing_e")
    def frame(t: String) = DedupQueries.winnowIndexFrame(spark, t)
      .orderBy("doc_id", "fp").collect().toSeq
    val drained = frame("winnow_idx_ing")
    assert(drained.nonEmpty && drained == frame("winnow_idx_ing_e"))
    DocumentsStream.runWinnowIngest(
      spark, s"$base/in", "winnow_idx_ing", s"$base/ckpt")
    assert(frame("winnow_idx_ing") == drained)
  }

  test("streaming band ingest drains exactly once; the fence rides the fold") {
    // the MinHash family's ingest twin: streamed batches land through the
    // same (checkpoint, batch-id) fence as search/IVF/winnow; drained
    // probe-visible frame == eagerly-buffered twin; replays no-op both
    // before AND after the compaction's location move; a foreign lineage
    // refuses loudly
    import graft.operators.DedupQueries
    import graft.streaming.DocumentsStream
    val base = java.nio.file.Files.createTempDirectory("graft-bandingest").toString
    val thr = DedupQueries.writeBandIndex(spark, sfDir, "band_idx_ing", s"$base/idx")
    DedupQueries.writeBandIndex(spark, sfDir, "band_idx_ing_e", s"$base/idxe")
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val b1 = docs.filter(col("doc_id") % 13 === 1 && col("doc_id") < thr)
      .select(col("doc_id") + 5000000L as "doc_id", col("text"))
    val b2 = docs.filter(col("doc_id") % 13 === 4 && col("doc_id") < thr)
      .select(col("doc_id") + 6000000L as "doc_id", col("text"))
    Seq(b1, b2).foreach(_.coalesce(1).write.mode("append").parquet(s"$base/in"))
    DocumentsStream.runBandIngest(spark, s"$base/in", "band_idx_ing", s"$base/ckpt")
    DedupQueries.bufferBandUpdate(b1, "band_idx_ing_e")
    DedupQueries.bufferBandUpdate(b2, "band_idx_ing_e")
    def frame(t: String) = DedupQueries.bandIndexFrame(spark, t)
      .orderBy("doc_id", "bk").collect().toSeq
    val drained = frame("band_idx_ing")
    assert(drained.nonEmpty && drained == frame("band_idx_ing_e"))
    // an at-least-once redelivery of an already-committed batch id no-ops
    assert(!DedupQueries.ingestBandBatch(b2, "band_idx_ing", 1L,
      streamId = s"$base/ckpt"))
    // the fence rides the fold's location move: the replay still skips
    DedupQueries.compactBandIndex(spark, "band_idx_ing")
    assert(frame("band_idx_ing") == drained)
    assert(!DedupQueries.ingestBandBatch(b2, "band_idx_ing", 1L,
      streamId = s"$base/ckpt"))
    assert(frame("band_idx_ing") == drained)
    // a different lineage refuses loudly instead of silently fencing
    val e = intercept[IllegalArgumentException] {
      DedupQueries.ingestBandBatch(b1, "band_idx_ing", 0L, streamId = "other")
    }
    assert(e.getMessage.contains("lineage"), e.getMessage)
    // the inline fold policy (foldEvery = 1): every batch folds as it
    // lands, the drained frame is unchanged, the window never
    // accumulates, and the fence still skips a replay after the folds
    DedupQueries.writeBandIndex(spark, sfDir, "band_idx_ing_f", s"$base/idxf")
    DocumentsStream.runBandIngest(
      spark, s"$base/in", "band_idx_ing_f", s"$base/ckptf", foldEvery = 1)
    assert(frame("band_idx_ing_f") == drained)
    assert(graft.sources.IndexManifest.current(spark,
        graft.sources.Tombstones.tableLocation(spark, "band_idx_ing_f"))
      .forall(_.deltas.isEmpty), "auto-fold left an open window")
    assert(!DedupQueries.ingestBandBatch(b2, "band_idx_ing_f", 1L,
      streamId = s"$base/ckptf"))
  }

  test("streaming prefix ingest drains exactly once and serves both halves") {
    // the exact-recall family's ingest twin: one committed delta serves
    // BOTH the inverted and forward views; drained == eagerly-buffered
    // twin on each; replay no-ops; foreign lineage refuses
    import graft.operators.DedupQueries
    import graft.streaming.DocumentsStream
    val base = java.nio.file.Files.createTempDirectory("graft-prefingest").toString
    val thr = DedupQueries.writePrefixIndex(spark, sfDir, "prefix_idx_ing", s"$base/idx")
    DedupQueries.writePrefixIndex(spark, sfDir, "prefix_idx_ing_e", s"$base/idxe")
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val b1 = docs.filter(col("doc_id") % 13 === 1 && col("doc_id") < thr)
      .select(col("doc_id") + 5000000L as "doc_id", col("text"))
    val b2 = docs.filter(col("doc_id") % 13 === 4 && col("doc_id") < thr)
      .select(col("doc_id") + 6000000L as "doc_id", col("text"))
    Seq(b1, b2).foreach(_.coalesce(1).write.mode("append").parquet(s"$base/in"))
    DocumentsStream.runPrefixIngest(spark, s"$base/in", "prefix_idx_ing", s"$base/ckpt")
    DedupQueries.bufferPrefixUpdate(b1, "prefix_idx_ing_e")
    DedupQueries.bufferPrefixUpdate(b2, "prefix_idx_ing_e")
    def frames(t: String) = {
      val (i, f) = DedupQueries.prefixIndexFrames(spark, t)
      (i.orderBy("doc_id", "x").collect().toSeq,
        f.orderBy("doc_id", "x").collect().toSeq)
    }
    val drained = frames("prefix_idx_ing")
    assert(drained._1.nonEmpty && drained == frames("prefix_idx_ing_e"))
    // the ingested rows serve the FORWARD view from the same one commit
    assert(drained._2.exists(_.getLong(0) >= 5000000L),
      "ingested representatives must reach the forward store view")
    assert(!DedupQueries.ingestPrefixBatch(b2, "prefix_idx_ing", 1L,
      streamId = s"$base/ckpt"))
    assert(frames("prefix_idx_ing") == drained)
    val e = intercept[IllegalArgumentException] {
      DedupQueries.ingestPrefixBatch(b1, "prefix_idx_ing", 0L, streamId = "other")
    }
    assert(e.getMessage.contains("lineage"), e.getMessage)
  }

  test("streaming graph ingest drains exactly once") {
    // the k-NN graph — the last family — under a stream: drained
    // visible rows == the eagerly-inserted twin's; replay no-ops;
    // foreign lineage refuses loudly
    import graft.operators.SimilarityQueries
    import graft.streaming.EmbeddingsStream
    val base = java.nio.file.Files.createTempDirectory("graft-graphingest").toString
    SimilarityQueries.writeKnnGraphWhere(
      spark, sfDir, s"$base/idx", col("vec_id") < 400)
    SimilarityQueries.writeKnnGraphWhere(
      spark, sfDir, s"$base/idxe", col("vec_id") < 400)
    val emb = Tables.embeddings(spark, sfDir)
    val b1 = emb.filter(col("vec_id") >= 400 && col("vec_id") % 2 === 0)
    val b2 = emb.filter(col("vec_id") >= 400 && col("vec_id") % 2 === 1)
    Seq(b1, b2).foreach(_.coalesce(1).write.mode("append").parquet(s"$base/in"))
    EmbeddingsStream.runGraphIngest(
      spark, sfDir, s"$base/in", s"$base/idx", s"$base/ckpt")
    SimilarityQueries.bufferGraphInsert(spark, sfDir, s"$base/idxe", b1)
    SimilarityQueries.bufferGraphInsert(spark, sfDir, s"$base/idxe", b2)
    def frame(p: String) = SimilarityQueries.graphRowsVisibleOf(spark,
        graft.sources.IndexManifest.current(spark, p), p)
      .select("vec_id", "rank", "nbr_id", "cos", "cell")
      .orderBy("vec_id", "rank", "nbr_id").collect().toSeq
    val drained = frame(s"$base/idx")
    assert(drained.nonEmpty && drained == frame(s"$base/idxe"))
    assert(drained.exists(_.getLong(0) >= 400L), "ingested nodes must serve")
    // a redelivered committed batch id no-ops — including after a fold
    assert(!SimilarityQueries.ingestGraphBatch(
      spark, sfDir, s"$base/idx", b2, 1L, streamId = s"$base/ckpt"))
    SimilarityQueries.compactKnnGraph(spark, s"$base/idx")
    assert(frame(s"$base/idx") == drained)
    assert(!SimilarityQueries.ingestGraphBatch(
      spark, sfDir, s"$base/idx", b2, 1L, streamId = s"$base/ckpt"))
    assert(frame(s"$base/idx") == drained)
    val e = intercept[IllegalArgumentException] {
      SimilarityQueries.ingestGraphBatch(
        spark, sfDir, s"$base/idx", b1, 0L, streamId = "other")
    }
    assert(e.getMessage.contains("lineage"), e.getMessage)
  }

  test("streaming phash ingest drains exactly once") {
    // the media family's ingest twin: streamed binary assets hash per
    // micro-batch and land through the shared fence; drained ==
    // eagerly-buffered twin; replay no-ops; foreign lineage refuses
    import graft.operators.{Multimodal, MultimodalQueries}
    import graft.streaming.DocumentsStream
    val base = java.nio.file.Files.createTempDirectory("graft-phashingest").toString
    MultimodalQueries.writePhashIndex(spark, sfDir, "phash_idx_ing", s"$base/idx")
    MultimodalQueries.writePhashIndex(spark, sfDir, "phash_idx_ing_e", s"$base/idxe")
    val assets = Multimodal.documentsAsAssets(spark, sfDir)
      .select("asset_id", "payload", "format")
    // fresh ids BELOW the 1e6 variant offset (the ingest guard's bound)
    val b1 = assets.filter(col("asset_id") % 13 === 1)
      .select(col("asset_id") + 300000L as "asset_id", col("payload"), col("format"))
    val b2 = assets.filter(col("asset_id") % 13 === 4)
      .select(col("asset_id") + 400000L as "asset_id", col("payload"), col("format"))
    Seq(b1, b2).foreach(_.coalesce(1).write.mode("append").parquet(s"$base/in"))
    DocumentsStream.runPhashIngest(spark, s"$base/in", "phash_idx_ing", s"$base/ckpt")
    MultimodalQueries.bufferPhashUpdate(b1, "phash_idx_ing_e")
    MultimodalQueries.bufferPhashUpdate(b2, "phash_idx_ing_e")
    def frame(t: String) = MultimodalQueries.phashIndexFrame(spark, t)
      .orderBy("asset_id", "bk").collect().toSeq
    val drained = frame("phash_idx_ing")
    assert(drained.nonEmpty && drained == frame("phash_idx_ing_e"))
    assert(drained.exists(_.getLong(0) >= 300000L), "ingested signatures must serve")
    assert(!MultimodalQueries.ingestPhashBatch(b2, "phash_idx_ing", 1L,
      streamId = s"$base/ckpt"))
    assert(frame("phash_idx_ing") == drained)
    val e = intercept[IllegalArgumentException] {
      MultimodalQueries.ingestPhashBatch(b1, "phash_idx_ing", 0L, streamId = "other")
    }
    assert(e.getMessage.contains("lineage"), e.getMessage)
  }

  test("stream-from-empty ingest with auto-fold equals the one-shot build") {
    // the complete LSM loop: an EMPTY bootstrap (zero rows, zero stats)
    // absorbs the whole corpus as streamed batches, folding inline every
    // time the window reaches 2 delta batches — after the drain the probe
    // equals the registered full-corpus ranking, the manifest log shows
    // the folds actually happened, and the final window is below the
    // threshold (probes pay a bounded union-arm count forever)
    import graft.operators.SearchQueries
    import graft.streaming.SearchStream
    val base = java.nio.file.Files.createTempDirectory("graft-ingestfold").toString
    SearchQueries.writeSearchIndexWhere(
      spark, sfDir, "search_idx_ing0", s"$base/idx", lit(false))
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text", "lang")
    Seq(0, 1, 2).foreach { m =>
      docs.filter(col("doc_id") % 3 === m)
        .coalesce(1).write.mode("append").parquet(s"$base/in")
    }
    SearchStream.runSearchIngest(
      spark, s"$base/in", "search_idx_ing0", s"$base/idx", s"$base/ckpt",
      foldEvery = 2)
    val direct = SparkEntry.queries("search_bm25_topk")(spark, sfDir)
    val cols = direct.columns.map(col).toSeq
    val got = SearchQueries.bm25TopkFromIndex(spark, "search_idx_ing0", s"$base/idx")
      .select(cols: _*).orderBy(cols: _*).collect().toSeq
    assert(got.nonEmpty && got == direct.orderBy(cols: _*).collect().toSeq)
    val log = graft.sources.Tombstones.manifestLog(spark, s"$base/idx")
    assert(log.filter(col("mutation") === "fold").count() >= 1, "a fold must have run")
    assert(graft.sources.IndexManifest.current(spark, s"$base/idx")
      .exists(_.deltas.size < 2), "the final window must sit below the threshold")
  }

  test("writer lease serializes concurrent mutators: one waits-then-proceeds, zero collision pages") {
    // the r17 verdict's integration ask: WriterLease existed but nothing
    // called it. The ingest runners now take a per-micro-batch lease
    // (holder = the lineage's checkpoint); this pins the serialization
    // property end-to-end — two concurrent mutators of ONE index, each
    // templating its epoch only inside the lease: the second WAITS for
    // the first to release and then proceeds, so neither ever sees the
    // manifest's collision page (which a true unleased race still raises,
    // pinned in TombstoneSpec).
    import graft.operators.SearchQueries
    val base = java.nio.file.Files.createTempDirectory("graft-leaseint").toString
    SearchQueries.writeSearchIndex(spark, sfDir, "search_lease_idx", s"$base/idx")
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text", "lang")
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val gate = new java.util.concurrent.CountDownLatch(1)
    def mutator(holder: String, m: Int, offset: Long) = new Thread(() => {
      try {
        gate.await()
        graft.sources.WriterLease.withIngestLease(
            spark, s"$base/idx", holder, waitMs = 120000L) {
          SearchQueries.appendSearchIndex(spark, "search_lease_idx", s"$base/idx",
            docs.filter(col("doc_id") % 2 === m)
              .select((col("doc_id") + offset).as("doc_id"), col("text"), col("lang")))
        }
      } catch { case t: Throwable => errs.add(t) }
    })
    val a = mutator("writer-a", 0, 5000000L)
    val b = mutator("writer-b", 1, 6000000L)
    a.start(); b.start(); gate.countDown(); a.join(180000); b.join(180000)
    assert(errs.isEmpty, s"zero collision pages expected, got: ${errs.peek()}")
    // both mutations landed: two insert epochs, two open delta batches
    val cur = graft.sources.IndexManifest.current(spark, s"$base/idx").get
    assert(cur.version == 2L && cur.deltas.size == 2, cur.toString)
    // and the lease is released on both exit paths
    assert(graft.sources.WriterLease.current(spark, s"$base/idx").isEmpty)
  }

  test("streaming soak: 30+ micro-batches with foldEvery=4 — bounded window, linear epochs, mid-stream vacuum, exact final probe") {
    // the compressed "runs for a week" pin: an empty bootstrap absorbs
    // the corpus as 32 single-file micro-batches under the inline fold
    // policy. The open window must never exceed the fold cadence, the
    // manifest must grow linearly (no epoch leak), a vacuum between
    // drain phases must reclaim without disturbing the lineage, and the
    // final probe must equal the one-shot build.
    import graft.operators.SearchQueries
    import graft.streaming.SearchStream
    val base = java.nio.file.Files.createTempDirectory("graft-soak").toString
    SearchQueries.writeSearchIndexWhere(
      spark, sfDir, "search_soak_idx", s"$base/idx", lit(false))
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text", "lang")
    // phase 1: 16 micro-batches
    (0 until 16).foreach { m =>
      docs.filter(col("doc_id") % 32 === m)
        .coalesce(1).write.mode("append").parquet(s"$base/in")
    }
    SearchStream.runSearchIngest(
      spark, s"$base/in", "search_soak_idx", s"$base/idx", s"$base/ckpt",
      foldEvery = 4)
    // mid-stream vacuum: reclaims the deferred fold leavings without
    // touching the lineage (the fence lives in the manifest, not on disk
    // artifacts vacuum reclaims)
    assert(graft.sources.Tombstones.vacuum(spark, s"$base/idx") >= 1L)
    // phase 2: 16 more batches through the SAME checkpoint — the
    // legitimate long-running-stream shape
    (16 until 32).foreach { m =>
      docs.filter(col("doc_id") % 32 === m)
        .coalesce(1).write.mode("append").parquet(s"$base/in")
    }
    SearchStream.runSearchIngest(
      spark, s"$base/in", "search_soak_idx", s"$base/idx", s"$base/ckpt",
      foldEvery = 4)
    val hist = graft.sources.IndexManifest.history(spark, s"$base/idx")
    // the open window NEVER exceeded the cadence: every committed epoch
    // holds at most foldEvery delta batches (the fold fires inline the
    // moment the 4th lands), including the final state
    assert(hist.nonEmpty && hist.forall(_.deltas.size <= 4),
      hist.map(e => (e.version, e.deltas.size)).mkString(","))
    // linear growth, no leak: <= one ingest epoch per batch + two epochs
    // per fold (gen fence + clearing commit) + the vacuum-era slack
    val nFolds = hist.sliding(2).count {
      case Seq(a, b) => a.deltas.nonEmpty && b.deltas.isEmpty
      case _ => false
    }
    assert(nFolds >= 6, s"expected ~8 folds at cadence 4 over 32 batches, got $nFolds")
    assert(hist.size <= 32 + 2 * nFolds + 4,
      s"epoch leak: ${hist.size} epochs for 32 batches + $nFolds folds")
    // the final window is below the cadence and the fence is at the tail
    val fin = graft.sources.IndexManifest.current(spark, s"$base/idx").get
    assert(fin.deltas.size < 4 && fin.ingestHwm.exists(_ >= 30L), fin.toString)
    // exactness: the drained+folded+vacuumed index equals the one-shot
    // full-corpus build, row for row
    val direct = SparkEntry.queries("search_bm25_topk")(spark, sfDir)
    val cols = direct.columns.map(col).toSeq
    val got = SearchQueries.bm25TopkFromIndex(spark, "search_soak_idx", s"$base/idx")
      .select(cols: _*).orderBy(cols: _*).collect().toSeq
    assert(got.nonEmpty && got == direct.orderBy(cols: _*).collect().toSeq)
    // and a replay of the whole input is still a clean no-op post-soak
    SearchStream.runSearchIngest(
      spark, s"$base/in", "search_soak_idx", s"$base/idx", s"$base/ckpt",
      foldEvery = 4)
    assert(SearchQueries.bm25TopkFromIndex(spark, "search_soak_idx", s"$base/idx")
      .select(cols: _*).orderBy(cols: _*).collect().toSeq == got)
  }

  test("streaming semantic dedup against the IVF index equals the one-shot verdicts") {
    // the embedding twin of the incremental-dedup stream: arriving vectors
    // probe the persisted index per trigger and verdict against tau; the
    // multi-batch drain must equal one-shot probing of the same vectors
    import graft.operators.SimilarityQueries
    import graft.streaming.EmbeddingsStream
    val base = java.nio.file.Files.createTempDirectory("graft-semstream").toString
    SimilarityQueries.writeIvfIndex(spark, sfDir, s"$base/idx")
    // calibrated so BOTH verdict classes occur among the 10 probed vectors
    // (their brute-force best-match cosines span 0.330..0.392, so 0.35
    // cuts 5/5; IVF probing can only LOWER a match below tau — adding
    // keeps — never invent one, so the split stays two-sided)
    val tau = 0.35
    Tables.embeddings(spark, sfDir).filter(col("vec_id") < 10).repartition(3)
      .write.mode("overwrite").parquet(s"$base/in")
    EmbeddingsStream.runSemanticDedup(
      spark, sfDir, s"$base/in", s"$base/idx", s"$base/out", s"$base/ckpt", tau)
    val commits = new java.io.File(s"$base/ckpt/commits").listFiles()
      .count(f => f.getName.forall(_.isDigit))
    assert(commits >= 2, s"expected several micro-batches, got $commits")
    import graft.functions.VectorOps
    val queries = VectorOps.normalized(spark, sfDir)
      .filter(col("vec_id") < 10).select("vec_id", "v", "nrm")
    val direct = EmbeddingsStream.semanticVerdicts(
      SimilarityQueries.ivfProbeIndex(spark, sfDir, s"$base/idx", queries),
      queries.select(col("vec_id").as("q_id")), tau)
    val cols = direct.columns.map(col).toSeq
    val got = spark.read.parquet(s"$base/out")
      .select(cols: _*).orderBy(cols: _*).collect()
    assert(got.nonEmpty && got.toSeq == direct.orderBy(cols: _*).collect().toSeq)
    // tau is meaningful: at least one verdict on each side of the cut
    assert(got.exists(_.getString(1) == "near_dup") && got.exists(_.getString(1) == "keep"))
  }

  test("streaming CDC snapshot: folded per-batch deltas equal the one-shot snapshot") {
    // the merge-on-read lifecycle: per-batch deltas append (never rewrite),
    // the serving snapshot is the fold of the log — associativity of the
    // (sum, latest-wins-max) fold makes any micro-batch split equal the
    // one-shot delta over the full changelog
    val base = java.nio.file.Files.createTempDirectory("graft-cdcstream").toString
    val ev = Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
    ev.repartition(3).write.mode("overwrite").parquet(s"$base/in")
    EventsStream.runCdcIngest(spark, s"$base/in", s"$base/out", s"$base/ckpt")
    val commits = new java.io.File(s"$base/ckpt/commits").listFiles()
      .count(f => f.getName.forall(_.isDigit))
    assert(commits >= 2, s"expected several micro-batches, got $commits")
    val merged = EventsStream.mergedCdcSnapshot(spark, s"$base/out")
    val direct = EventsStream.cdcDeltaOf(ev)
    val cols = direct.columns.map(col).toSeq
    val got = merged.orderBy(cols: _*).collect().toSeq
    assert(got.nonEmpty && got == direct.orderBy(cols: _*).collect().toSeq)
    // the latest-wins half is actually exercised: users span batches
    assert(got.exists(_.getLong(1) > 1), "no user with more than one event")

    // time travel: every micro-batch epoch is tagged in the log, snapshot
    // AS OF the last epoch is the full snapshot, and AS OF an intermediate
    // epoch equals the fold of exactly the log prefix (and is a PROPER
    // prefix: fewer events than the full snapshot)
    val deltaLog = spark.read.parquet(s"$base/out")
    val epochs = deltaLog.select("epoch").distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(epochs == (0L until commits.toLong), s"epoch tags $epochs != [0, $commits)")
    val asOfLast = EventsStream.mergedCdcSnapshotAsOf(spark, s"$base/out", epochs.last)
    assert(asOfLast.orderBy(cols: _*).collect().toSeq == got)
    val mid = epochs(epochs.size / 2 - 1)
    val asOfMid = EventsStream.mergedCdcSnapshotAsOf(spark, s"$base/out", mid)
      .orderBy(cols: _*).collect().toSeq
    val prefixFold = EventsStream.foldCdcDeltas(
        deltaLog.filter(col("epoch") <= mid).drop("epoch"))
      .orderBy(cols: _*).collect().toSeq
    assert(asOfMid == prefixFold, "asOf(mid) != fold of the log prefix")
    def totalEvents(rows: Seq[org.apache.spark.sql.Row]) = rows.map(_.getLong(1)).sum
    assert(totalEvents(asOfMid) < totalEvents(got),
      "intermediate version should cover strictly fewer events")
  }

  test("CDC delta fold is split-invariant: any segmentation folds to the one-shot delta") {
    // the associativity claim behind runCdcIngest, exercised beyond the
    // file-split the streaming test happens to produce: seeded random
    // changelogs (tied timestamps included — the latest-wins tie-break must
    // hold under them) cut into random segments must fold to the delta of
    // the whole log
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 4) {
      val n = 200 + rnd.nextInt(200)
      val nSeg = 2 + rnd.nextInt(4)
      val rows = (1 to n).map { i =>
        (i.toLong,
          new java.sql.Timestamp(rnd.nextInt(1000).toLong * 1000L), // many ties
          rnd.nextInt(20).toLong,
          Seq("click", "view", "purchase")(rnd.nextInt(3)),
          rnd.nextDouble() * 100,
          rnd.nextInt(nSeg))
      }
      val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "seg")
      val whole = EventsStream.cdcDeltaOf(df.drop("seg"))
      val folded = EventsStream.foldCdcDeltas(
        (0 until nSeg)
          .map(sg => EventsStream.cdcDeltaOf(df.filter(col("seg") === sg).drop("seg")))
          .reduce(_ unionByName _))
      val cols = whole.columns.map(col).toSeq
      assert(folded.orderBy(cols: _*).collect().toSeq ==
        whole.orderBy(cols: _*).collect().toSeq, s"trial $trial: fold mismatch")
    }
  }

  test("streaming quality monitor: per-batch contract counts sum to the batch report") {
    // per-row constraints are sum-mergeable, so draining the events in
    // several micro-batches and summing the appended reports must equal
    // the one-shot report over the full frame
    val base = java.nio.file.Files.createTempDirectory("graft-qualstream").toString
    val ev = Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
    ev.repartition(3).write.mode("overwrite").parquet(s"$base/in")
    EventsStream.runQualityMonitor(spark, s"$base/in", s"$base/out", s"$base/ckpt")
    val commits = new java.io.File(s"$base/ckpt/commits").listFiles()
      .count(f => f.getName.forall(_.isDigit))
    assert(commits >= 2, s"expected several micro-batches, got $commits")
    val merged = EventsStream.mergedQuality(spark, s"$base/out").collect().head
    val direct = EventsStream.qualityCounts(ev).collect().head
    assert(merged == direct, s"merged=$merged direct=$direct")
    assert(direct.getLong(0) > 0)
  }

  test("streaming CMS ingest: per-batch sketches merge to the batch sketch") {
    // the sketch-mergeability claim executed: drain documents in several
    // micro-batches, cell-wise-sum the appended per-batch sketches, and
    // the standing sketch must equal the one-shot full-corpus sketch
    import graft.streaming.DocumentsStream
    val base = java.nio.file.Files.createTempDirectory("graft-cmsstream").toString
    Tables.documents(spark, sfDir).select("doc_id", "text").repartition(3)
      .write.mode("overwrite").parquet(s"$base/in")
    DocumentsStream.runCmsIngest(spark, s"$base/in", s"$base/out", s"$base/ckpt")
    val commits = new java.io.File(s"$base/ckpt/commits").listFiles()
      .count(f => f.getName.forall(_.isDigit))
    assert(commits >= 2, s"expected several micro-batches, got $commits")
    val merged = DocumentsStream.mergedSketch(spark, s"$base/out")
      .orderBy("i", "bucket").collect()
    val direct = graft.operators.TextQueries
      .cmsSketchOf(Tables.documents(spark, sfDir))
      .orderBy("i", "bucket").collect()
    assert(merged.nonEmpty && merged.toSeq == direct.toSeq)
  }

  test("streaming surprisal monitor equals the registered text_surprisal") {
    // the model-based quality filter served on a stream: train the unigram
    // model once, drain the corpus in several micro-batches scoring each
    // against the persisted model — per-doc scores are model-fixed, so the
    // appended reports must equal the one-shot registered query exactly
    // (the training corpus replayed ⇒ the tf=1 fallback never fires)
    import graft.streaming.DocumentsStream
    val base = java.nio.file.Files.createTempDirectory("graft-surstream").toString
    DocumentsStream.writeUnigramModel(spark, sfDir, s"$base/model")
    Tables.documents(spark, sfDir).select("doc_id", "text").repartition(3)
      .write.mode("overwrite").parquet(s"$base/in")
    DocumentsStream.runSurprisalMonitor(
      spark, s"$base/model", s"$base/in", s"$base/out", s"$base/ckpt")
    val commits = new java.io.File(s"$base/ckpt/commits").listFiles()
      .count(f => f.getName.forall(_.isDigit))
    assert(commits >= 2, s"expected several micro-batches, got $commits")
    val direct = SparkEntry.queries("text_surprisal")(spark, sfDir)
    val cols = direct.columns.map(col).toSeq
    val got = spark.read.parquet(s"$base/out")
      .select(cols: _*).orderBy("doc_id").collect()
    assert(got.nonEmpty && got.toSeq == direct.orderBy("doc_id").collect().toSeq)
  }

  test("streaming linear-classifier monitor equals the one-shot serving pass") {
    // the supervised quality gate served on a stream: train the perceptron
    // once, persist the weight grid, drain the corpus in several
    // micro-batches scoring each against the fixed model — predictions are
    // per-doc once the weights are frozen, so the appended reports must
    // equal the registered text_linear_classify's serving columns exactly
    import graft.streaming.DocumentsStream
    val base = java.nio.file.Files.createTempDirectory("graft-linstream").toString
    graft.operators.TextQueries.writeLinearModel(spark, sfDir, s"$base/model")
    Tables.documents(spark, sfDir).select("doc_id", "text").repartition(3)
      .write.mode("overwrite").parquet(s"$base/in")
    DocumentsStream.runLinearMonitor(
      spark, s"$base/model", s"$base/in", s"$base/out", s"$base/ckpt")
    val commits = new java.io.File(s"$base/ckpt/commits").listFiles()
      .count(f => f.getName.forall(_.isDigit))
    assert(commits >= 2, s"expected several micro-batches, got $commits")
    val direct = SparkEntry.queries("text_linear_classify")(spark, sfDir)
      .select("doc_id", "pred_label", "pred_score", "margin")
    val got = spark.read.parquet(s"$base/out")
      .select("doc_id", "pred_label", "pred_score", "margin")
      .orderBy("doc_id").collect()
    assert(got.nonEmpty && got.toSeq == direct.orderBy("doc_id").collect().toSeq)
  }

  test("streaming priority sample merges to the one-shot batch sample exactly") {
    // the mergeability claim executed: drain the corpus in several
    // micro-batches, keep only each batch's k priority winners, re-rank
    // the appended winners — must equal the one-shot top-k (same columns
    // as the registered sampler minus lang, which readDocs doesn't carry)
    import graft.streaming.DocumentsStream
    val base = java.nio.file.Files.createTempDirectory("graft-pristream").toString
    Tables.documents(spark, sfDir).select("doc_id", "text").repartition(3)
      .write.mode("overwrite").parquet(s"$base/in")
    DocumentsStream.runPrioritySample(spark, s"$base/in", s"$base/out", s"$base/ckpt")
    val commits = new java.io.File(s"$base/ckpt/commits").listFiles()
      .count(f => f.getName.forall(_.isDigit))
    assert(commits >= 2, s"expected several micro-batches, got $commits")
    val direct = SparkEntry.queries("pipeline_sample_priority")(spark, sfDir)
      .select("doc_id", "n_tokens", "priority").collect()
    val merged = DocumentsStream.mergedPrioritySample(spark, s"$base/out")
      .select("doc_id", "n_tokens", "priority").collect()
    assert(merged.nonEmpty && merged.toSeq == direct.toSeq)
  }

  test("streaming boilerplate scrubber equals the one-shot span rewrite") {
    // pipeline_strip_spans served on a stream: census the span set once,
    // persist it, drain the corpus in several micro-batches scrubbing each
    // against the frozen set — rewrites are per-doc once the set is fixed,
    // so the appended audit rows must equal the registered query exactly
    import graft.streaming.DocumentsStream
    val base = java.nio.file.Files.createTempDirectory("graft-spanstream").toString
    DocumentsStream.writeBoilerSpans(spark, sfDir, s"$base/model")
    Tables.documents(spark, sfDir).select("doc_id", "text").repartition(3)
      .write.mode("overwrite").parquet(s"$base/in")
    DocumentsStream.runStripSpans(
      spark, s"$base/model", s"$base/in", s"$base/out", s"$base/ckpt")
    val commits = new java.io.File(s"$base/ckpt/commits").listFiles()
      .count(f => f.getName.forall(_.isDigit))
    assert(commits >= 2, s"expected several micro-batches, got $commits")
    val direct = SparkEntry.queries("pipeline_strip_spans")(spark, sfDir)
    val cols = direct.columns.map(col).toSeq
    val got = spark.read.parquet(s"$base/out")
      .select(cols: _*).orderBy("doc_id").collect()
    assert(got.nonEmpty && got.toSeq == direct.orderBy("doc_id").collect().toSeq)
  }

  test("streaming CUSUM ingest: merged hourly censuses re-derive the batch detector") {
    // per-batch hourly censuses are cell-wise sums, so the merged standing
    // table must equal the one-shot census and the detector over it must
    // equal q_events_cusum row-for-row
    import graft.operators.EventQueries
    val base = java.nio.file.Files.createTempDirectory("graft-cusumstream").toString
    EventsStream.runCusumIngest(spark, sfDir, s"$base/out", s"$base/ckpt")
    val merged = spark.read.parquet(s"$base/out")
      .groupBy("event_type", "hr").agg(sum(col("n")).as("n"))
    val got = EventQueries.cusumOverHourly(merged)
      .orderBy("event_type", "hr").collect()
    val direct = SparkEntry.queries("q_events_cusum")(spark, sfDir).collect()
    assert(got.nonEmpty && got.toSeq == direct.toSeq)
  }

  test("replayed CUSUM ingest overwrites its batch censuses instead of double-counting") {
    // the r13 idempotency guard, exercised: a second drain of the same
    // input over a FRESH checkpoint replays every batch id against the
    // same outPath — each must REPLACE its batch_id=<id> census (the
    // at-least-once foreachBatch story), so the merged census and the
    // detector over it are unchanged
    import graft.operators.EventQueries
    val base = java.nio.file.Files.createTempDirectory("graft-cusumreplay").toString
    EventsStream.runCusumIngest(spark, sfDir, s"$base/out", s"$base/ckpt1")
    def merged = spark.read.parquet(s"$base/out")
      .groupBy("event_type", "hr").agg(sum(col("n")).as("n"))
    val rawRows = spark.read.parquet(s"$base/out").count()
    val firstDetect = EventQueries.cusumOverHourly(merged)
      .orderBy("event_type", "hr").collect()
    // full replay: fresh checkpoint, same input, same outPath
    EventsStream.runCusumIngest(spark, sfDir, s"$base/out", s"$base/ckpt2")
    assert(spark.read.parquet(s"$base/out").count() == rawRows,
      "replay appended instead of overwriting its batch directories")
    val secondDetect = EventQueries.cusumOverHourly(merged)
      .orderBy("event_type", "hr").collect()
    assert(firstDetect.nonEmpty && secondDetect.toSeq == firstDetect.toSeq)
    val direct = SparkEntry.queries("q_events_cusum")(spark, sfDir).collect()
    assert(secondDetect.toSeq == direct.toSeq)
  }

  test("streaming winnow probe from the persisted index equals batch") {
    // the winnow family's ingest twin: arriving docs winnow per trigger and
    // probe the fp-bucketed corpus index; per-document selection means the
    // multi-batch drain must equal the one-shot dedup_winnow_incremental
    import graft.operators.DedupQueries
    import graft.streaming.DocumentsStream
    val base = java.nio.file.Files.createTempDirectory("graft-winstream").toString
    val thr = DedupQueries.writeWinnowIndex(spark, sfDir, "winnow_idx_stream", s"$base/idx")
    Tables.documents(spark, sfDir).select("doc_id", "text")
      .filter(col("doc_id") >= thr).repartition(3)
      .write.mode("overwrite").parquet(s"$base/in")
    DocumentsStream.runWinnowProbe(
      spark, s"$base/in", "winnow_idx_stream", s"$base/out", s"$base/ckpt")
    val commits = new java.io.File(s"$base/ckpt/commits").listFiles()
      .count(f => f.getName.forall(_.isDigit))
    assert(commits >= 2, s"expected several micro-batches, got $commits")
    val direct = SparkEntry.queries("dedup_winnow_incremental")(spark, sfDir)
    val cols = direct.columns.map(col).toSeq
    val got = spark.read.parquet(s"$base/out")
      .select(cols: _*).orderBy("doc_id", "c_id").collect()
    assert(got.nonEmpty && got.toSeq == direct.orderBy("doc_id", "c_id").collect().toSeq)
  }

  test("streaming prefix (PPJoin) probe from the persisted index equals batch") {
    // the exact-recall family's ingest twin: arriving docs probe the
    // inverted+forward prefix index per trigger; the input is the batch
    // side rep-collapsed up front (identical texts split across triggers
    // would each emit — the documented per-trigger-collapse contract), so
    // the multi-batch drain equals the one-shot dedup_prefix_incremental
    import graft.operators.DedupQueries
    import graft.streaming.DocumentsStream
    val base = java.nio.file.Files.createTempDirectory("graft-prefixstream").toString
    val thr = DedupQueries.writePrefixIndex(
      spark, sfDir, "prefix_idx_stream", s"$base/idx")
    Tables.documents(spark, sfDir).select("doc_id", "text")
      .filter(col("doc_id") >= thr && size(split(col("text"), " ")) >= 3)
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"), min(col("text")).as("text"))
      .select("doc_id", "text")
      .repartition(3)
      .write.mode("overwrite").parquet(s"$base/in")
    DocumentsStream.runPrefixProbe(
      spark, s"$base/in", "prefix_idx_stream", s"$base/out", s"$base/ckpt")
    val commits = new java.io.File(s"$base/ckpt/commits").listFiles()
      .count(f => f.getName.forall(_.isDigit))
    assert(commits >= 2, s"expected several micro-batches, got $commits")
    val direct = SparkEntry.queries("dedup_prefix_incremental")(spark, sfDir)
    val cols = direct.columns.map(col).toSeq
    val got = spark.read.parquet(s"$base/out")
      .select(cols: _*).orderBy("doc_id", "c_id").collect()
    assert(got.nonEmpty && got.toSeq == direct.orderBy("doc_id", "c_id").collect().toSeq)
  }

  test("streaming phash probe from the persisted index equals batch") {
    // arriving re-encode variants hash per trigger and probe the standing
    // original-asset band index; drain == multimodal_phash_incremental
    import graft.operators.{Multimodal, MultimodalQueries}
    import graft.streaming.DocumentsStream
    val base = java.nio.file.Files.createTempDirectory("graft-phashstream").toString
    MultimodalQueries.writePhashIndex(spark, sfDir, "phash_idx_stream", s"$base/idx")
    Multimodal.assetsWithVariants(spark, sfDir)
      .filter(col("asset_id") >= 1000000L).repartition(3)
      .write.mode("overwrite").parquet(s"$base/in")
    DocumentsStream.runPhashProbe(
      spark, s"$base/in", "phash_idx_stream", s"$base/out", s"$base/ckpt")
    val commits = new java.io.File(s"$base/ckpt/commits").listFiles()
      .count(f => f.getName.forall(_.isDigit))
    assert(commits >= 2, s"expected several micro-batches, got $commits")
    val direct = SparkEntry.queries("multimodal_phash_incremental")(spark, sfDir)
    val cols = direct.columns.map(col).toSeq
    val got = spark.read.parquet(s"$base/out")
      .select(cols: _*).orderBy("asset_id", "src_id").collect()
    assert(got.nonEmpty && got.toSeq == direct.orderBy("asset_id", "src_id").collect().toSeq)
  }

  test("streaming ANN probe sees a mid-drain takedown from the next drain on") {
    // the vector twin of the BM25/winnow mid-stream takedown pins: the
    // drain splits in two, the takedown lands between them (a true
    // mid-stream delete — the checkpoint carries across), and each half
    // must equal the batch probe against the index state IT saw
    import graft.operators.SimilarityQueries
    import graft.streaming.EmbeddingsStream
    import graft.functions.VectorOps
    val base = java.nio.file.Files.createTempDirectory("graft-vectomb").toString
    SimilarityQueries.writeIvfIndex(spark, sfDir, s"$base/idx")
    def queriesOf(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("nrm", expr(s"sqrt(${VectorOps.dotExpr("v", "v")})"))
    val qA = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 5)
    val qB = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") >= 5 && col("vec_id") < 10)
    qA.repartition(2).write.mode("append").parquet(s"$base/in")
    val expectA = SimilarityQueries
      .ivfProbeIndex(spark, sfDir, s"$base/idx", queriesOf(qA)).collect()
    EmbeddingsStream.runAnnProbe(
      spark, sfDir, s"$base/in", s"$base/idx", s"$base/out", s"$base/ckpt")
    // ---- mid-drain takedown ----
    val deleted = Tables.embeddings(spark, sfDir).filter(col("vec_id") % 13 === 7)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    SimilarityQueries.deleteFromIvfIndex(spark, s"$base/idx", deleted)
    qB.repartition(2).write.mode("append").parquet(s"$base/in")
    EmbeddingsStream.runAnnProbe(
      spark, sfDir, s"$base/in", s"$base/idx", s"$base/out", s"$base/ckpt")
    val expectB = SimilarityQueries
      .ivfProbeIndex(spark, sfDir, s"$base/idx", queriesOf(qB)).collect()
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getLong(2))
    val got = spark.read.parquet(s"$base/out")
      .select("q_id", "rank", "cand_id", "cos").collect().sortBy(key)
    assert(got.nonEmpty &&
      got.toSeq == (expectA ++ expectB).sortBy(key).toSeq)
    // the post-takedown half never surfaces a deleted id
    assert(!expectB.exists(r => deleted.contains(r.getLong(2))))
  }

  test("streaming cross-modal probe sees a mid-drain takedown from the next drain on") {
    import graft.operators.{MultimodalQueries, SimilarityQueries}
    import graft.streaming.EmbeddingsStream
    import graft.functions.VectorOps
    val base = java.nio.file.Files.createTempDirectory("graft-xmtomb").toString
    SimilarityQueries.writeIvfIndex(spark, sfDir, s"$base/idx")
    def queriesOf(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("nrm", expr(s"sqrt(${VectorOps.dotExpr("v", "v")})"))
    def served(df: org.apache.spark.sql.DataFrame) =
      MultimodalQueries.crossmodalEnrich(spark, sfDir,
        SimilarityQueries.ivfProbeIndex(spark, sfDir, s"$base/idx", queriesOf(df)))
    val qA = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 5)
    val qB = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") >= 5 && col("vec_id") < 10)
    qA.repartition(2).write.mode("append").parquet(s"$base/in")
    val colsA = served(qA).columns
    val expectA = served(qA).collect()
    EmbeddingsStream.runCrossmodalProbe(
      spark, sfDir, s"$base/in", s"$base/idx", s"$base/out", s"$base/ckpt")
    val deleted = Tables.embeddings(spark, sfDir).filter(col("vec_id") % 13 === 7)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    SimilarityQueries.deleteFromIvfIndex(spark, s"$base/idx", deleted)
    qB.repartition(2).write.mode("append").parquet(s"$base/in")
    EmbeddingsStream.runCrossmodalProbe(
      spark, sfDir, s"$base/in", s"$base/idx", s"$base/out", s"$base/ckpt")
    val expectB = served(qB).collect()
    val key = (r: org.apache.spark.sql.Row) => (r.getLong(0), r.getLong(1))
    val got = spark.read.parquet(s"$base/out")
      .select(colsA.map(col).toSeq: _*).collect().sortBy(key)
    assert(got.nonEmpty &&
      got.toSeq == (expectA ++ expectB).sortBy(key).toSeq)
  }

  test("streaming phash probe sees a mid-drain takedown from the next drain on") {
    import graft.operators.{Multimodal, MultimodalQueries}
    import graft.streaming.DocumentsStream
    val base = java.nio.file.Files.createTempDirectory("graft-phtomb").toString
    MultimodalQueries.writePhashIndex(spark, sfDir, "phash_tomb_stream", s"$base/idx")
    val variants = Multimodal.assetsWithVariants(spark, sfDir)
      .filter(col("asset_id") >= 1000000L)
    // split the drain by variant family (+1e6 re-encodes first, +2e6
    // second) — variant ids are all even, so parity cannot split them
    val vA = variants.filter(col("asset_id") < 2000000L)
    val vB = variants.filter(col("asset_id") >= 2000000L)
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      MultimodalQueries.phashProbePairs(
        MultimodalQueries.phashBandKeys(Multimodal.perceptualHash(df).toDF()),
        MultimodalQueries.phashIndexFrame(spark, "phash_tomb_stream"))
    vA.repartition(2).write.mode("append").parquet(s"$base/in")
    val colsP = pairsOf(vA).columns
    val expectA = pairsOf(vA).collect()
    DocumentsStream.runPhashProbe(
      spark, s"$base/in", "phash_tomb_stream", s"$base/out", s"$base/ckpt")
    // takedown of HALF the variant SOURCES (sources are % 10 = 0 docs, so
    // % 20 = 0 removes every other one): their variants must stop
    // matching from the next drain on
    val deleted = spark.table("phash_tomb_stream")
      .filter(col("asset_id") % 20 === 0).select("asset_id").distinct()
      .collect().map(_.getLong(0)).toSeq
    assert(deleted.nonEmpty)
    MultimodalQueries.deleteFromPhashIndex(spark, "phash_tomb_stream", deleted)
    vB.repartition(2).write.mode("append").parquet(s"$base/in")
    DocumentsStream.runPhashProbe(
      spark, s"$base/in", "phash_tomb_stream", s"$base/out", s"$base/ckpt")
    val expectB = pairsOf(vB).collect()
    val key = (r: org.apache.spark.sql.Row) => (r.getLong(0), r.getLong(1))
    val got = spark.read.parquet(s"$base/out")
      .select(colsP.map(col).toSeq: _*).collect().sortBy(key)
    assert(got.nonEmpty &&
      got.toSeq == (expectA ++ expectB).sortBy(key).toSeq)
    // the post-takedown half never matches a deleted original
    assert(expectB.nonEmpty && !expectB.exists(r => deleted.contains(r.getLong(1))))
  }

  test("streaming Gopher audit equals the batch rule battery") {
    // stateless map-only rules as a TRUE streaming query (file-sink path,
    // no foreachBatch): drain must equal text_gopher_rules row-for-row
    import graft.streaming.DocumentsStream
    val base = java.nio.file.Files.createTempDirectory("graft-gopherstream").toString
    Tables.documents(spark, sfDir).select("doc_id", "text").repartition(3)
      .write.mode("overwrite").parquet(s"$base/in")
    DocumentsStream.runGopherAudit(spark, s"$base/in", s"$base/out", s"$base/ckpt")
    val commits = new java.io.File(s"$base/ckpt/commits").listFiles()
      .count(f => f.getName.forall(_.isDigit))
    assert(commits >= 2, s"expected several micro-batches, got $commits")
    val direct = SparkEntry.queries("text_gopher_rules")(spark, sfDir)
    val cols = direct.columns.map(col).toSeq
    val got = spark.read.parquet(s"$base/out")
      .select(cols: _*).orderBy("doc_id").collect()
    assert(got.nonEmpty && got.toSeq == direct.orderBy("doc_id").collect().toSeq)
  }

  test("stateful dedup on the RocksDB state store equals batch distinct") {
    // the bounded-heap state path a 100 TB streaming deployment runs on:
    // same query, state provider swapped to RocksDB — results must be
    // identical and the progress metrics must prove RocksDB actually held
    // the state (provider-specific counters only RocksDB emits)
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val (out, progress) = EventsStream.runOnceWithProgress(
        EventsStream.dedupedEventsBounded(EventsStream.readEvents(spark, sfDir))
          .select("event_id"),
        "stream_rocksdb_test", "append")
      val batch = Tables.events(spark, sfDir).select("event_id").distinct().count()
      assert(out.count() == batch && batch > 0)
      val state = progress.stateOperators.head
      assert(state.numRowsTotal > 0)
      import scala.jdk.CollectionConverters._
      assert(state.customMetrics.keySet.asScala.exists(_.toLowerCase.contains("rocksdb")),
        s"no RocksDB metrics in ${state.customMetrics.keySet.asScala.mkString(",")}")
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("multi-index corpus ingest group: one batch feeds four siblings; crash between siblings converges on replay") {
    // the composed form of the per-family runners: one document batch
    // lands in postings + band + winnow + prefix inside one foreachBatch,
    // each family through its own fence + lease, in a fixed commit order.
    // Pins: (a) full drain == the eagerly-buffered twins on every family;
    // (b) a crash injected BETWEEN sibling commits (search landed, band
    // did not) leaves a divergence the replay provably converges; (c) a
    // replay after success is a no-op on all four.
    import graft.operators.{DedupQueries, SearchQueries}
    import graft.streaming.DocumentsStream
    val base = java.nio.file.Files.createTempDirectory("graft-groupingest").toString
    SearchQueries.writeSearchIndex(spark, sfDir, "grp_search_idx", s"$base/sidx")
    val thr = DedupQueries.writeBandIndex(spark, sfDir, "grp_band_idx", s"$base/bidx")
    DedupQueries.writeWinnowIndex(spark, sfDir, "grp_winnow_idx", s"$base/widx")
    DedupQueries.writePrefixIndex(spark, sfDir, "grp_prefix_idx", s"$base/pidx")
    SearchQueries.writeSearchIndex(spark, sfDir, "grp_search_idx_e", s"$base/sidxe")
    DedupQueries.writeBandIndex(spark, sfDir, "grp_band_idx_e", s"$base/bidxe")
    DedupQueries.writeWinnowIndex(spark, sfDir, "grp_winnow_idx_e", s"$base/widxe")
    DedupQueries.writePrefixIndex(spark, sfDir, "grp_prefix_idx_e", s"$base/pidxe")
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text", "lang")
    def mk(m: Int, off: Long) =
      docs.filter(col("doc_id") % 13 === m && col("doc_id") < thr)
        .select(col("doc_id") + off as "doc_id", col("text"), col("lang"))
    val b1 = mk(1, 5000000L)
    val b2 = mk(4, 6000000L)
    Seq(b1, b2).foreach(_.coalesce(1).write.mode("append").parquet(s"$base/in"))
    val targets = DocumentsStream.CorpusIngestTargets(
      search = Some(("grp_search_idx", s"$base/sidx")),
      band = Some("grp_band_idx"),
      winnow = Some("grp_winnow_idx"),
      prefix = Some("grp_prefix_idx"))
    DocumentsStream.runCorpusIngest(spark, s"$base/in", targets, s"$base/ckpt")
    def eager(b: org.apache.spark.sql.DataFrame): Unit = {
      SearchQueries.bufferSearchUpdate(spark, "grp_search_idx_e", s"$base/sidxe", b)
      DedupQueries.bufferBandUpdate(b.select("doc_id", "text"), "grp_band_idx_e")
      DedupQueries.bufferWinnowUpdate(b.select("doc_id", "text"), "grp_winnow_idx_e")
      DedupQueries.bufferPrefixUpdate(b.select("doc_id", "text"), "grp_prefix_idx_e")
    }
    Seq(b1, b2).foreach(eager)
    def state(): Seq[Seq[org.apache.spark.sql.Row]] = Seq(
      SearchQueries.bm25TopkFromIndex(spark, "grp_search_idx", s"$base/sidx")
        .collect().toSeq,
      DedupQueries.bandIndexFrame(spark, "grp_band_idx")
        .orderBy("doc_id", "bk").collect().toSeq,
      DedupQueries.winnowIndexFrame(spark, "grp_winnow_idx")
        .orderBy("doc_id", "fp").collect().toSeq,
      DedupQueries.prefixIndexFrames(spark, "grp_prefix_idx")._1
        .orderBy("doc_id", "x").collect().toSeq)
    def twinState(): Seq[Seq[org.apache.spark.sql.Row]] = Seq(
      SearchQueries.bm25TopkFromIndex(spark, "grp_search_idx_e", s"$base/sidxe")
        .collect().toSeq,
      DedupQueries.bandIndexFrame(spark, "grp_band_idx_e")
        .orderBy("doc_id", "bk").collect().toSeq,
      DedupQueries.winnowIndexFrame(spark, "grp_winnow_idx_e")
        .orderBy("doc_id", "fp").collect().toSeq,
      DedupQueries.prefixIndexFrames(spark, "grp_prefix_idx_e")._1
        .orderBy("doc_id", "x").collect().toSeq)
    val drained = state()
    assert(drained.forall(_.nonEmpty) && drained == twinState(),
      "group drain must equal the per-family eager twins")
    // ---- crash BETWEEN sibling commits: search (1st in order) lands
    // batch 2, band's commit throws before its pointer lands ------------
    val b3 = mk(7, 7000000L)
    b3.coalesce(1).write.mode("append").parquet(s"$base/in")
    graft.sources.IndexManifest.failCommitCountdown = 1
    val crash = intercept[Exception] {
      DocumentsStream.runCorpusIngest(spark, s"$base/in", targets, s"$base/ckpt")
    }
    assert(crash.getMessage.contains("injected") ||
      Option(crash.getCause).exists(_.getMessage.contains("injected")),
      crash.getMessage)
    // the divergence the crash leaves: search fenced batch 2, the other
    // three still at batch 1 — exactly one sibling ahead
    def fence(anchor: String) =
      graft.sources.Tombstones.ingestFence(spark, anchor).map(_._2)
    assert(fence(s"$base/sidx").contains(2L), "search must have committed batch 2")
    Seq("grp_band_idx", "grp_winnow_idx", "grp_prefix_idx").foreach { t =>
      assert(fence(graft.sources.Tombstones.tableLocation(spark, t)).contains(1L),
        s"$t must still be at batch 1 after the mid-group crash")
    }
    // REPLAY converges: the restart re-delivers batch 2; search skips on
    // its fence, the other three ingest — every family equals its twin
    DocumentsStream.runCorpusIngest(spark, s"$base/in", targets, s"$base/ckpt")
    eager(b3)
    val converged = state()
    assert(converged == twinState(),
      "the replay must converge every sibling to the one-shot state")
    // replay-after-success: a no-op on all four
    DocumentsStream.runCorpusIngest(spark, s"$base/in", targets, s"$base/ckpt")
    assert(state() == converged)
  }

  test("consistent cross-index snapshot: mid-ingest hybrid serves the min common fence; no common lineage refuses loudly") {
    // the serving half of the ingest group: between sibling commits the
    // lexical index is a batch ahead of the vector index, and the naive
    // live fuse would mix two corpus states. The consistent read resolves
    // both indexes AS OF the min common (lineage, batch-id) fence and
    // must equal the live hybrid over twin indexes built one-shot on the
    // COMMON prefix.
    import graft.operators.{SearchQueries, SimilarityQueries}
    val base = java.nio.file.Files.createTempDirectory("graft-chyb").toString
    SearchQueries.writeSearchIndexWhere(
      spark, sfDir, "chyb_search", s"$base/sidx", col("doc_id") % 4 =!= 3)
    SimilarityQueries.writeIvfIndexWhere(
      spark, sfDir, s"$base/ividx", col("vec_id") % 4 =!= 3)
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text", "lang")
    val em = Tables.embeddings(spark, sfDir)
    val d0 = docs.filter(col("doc_id") % 8 === 3)
    val v0 = em.filter(col("vec_id") % 8 === 3)
    val d1 = docs.filter(col("doc_id") % 8 === 7)
    // batch 0 lands in BOTH; batch 1 in search only — the exact mid-group
    // state a crash (or an in-flight trigger) leaves
    assert(SearchQueries.ingestSearchBatch(
      spark, "chyb_search", s"$base/sidx", d0, 0L, streamId = "grp"))
    assert(SimilarityQueries.ingestIvfBatch(
      spark, sfDir, s"$base/ividx", v0, 0L, streamId = "grp"))
    assert(SearchQueries.ingestSearchBatch(
      spark, "chyb_search", s"$base/sidx", d1, 1L, streamId = "grp"))
    // twins: one-shot builds over the common prefix (bootstrap + batch 0)
    SearchQueries.writeSearchIndexWhere(
      spark, sfDir, "chyb_search_t", s"$base/sidxt",
      col("doc_id") % 4 =!= 3 || col("doc_id") % 8 === 3)
    SimilarityQueries.writeIvfIndexWhere(
      spark, sfDir, s"$base/ividxt",
      col("vec_id") % 4 =!= 3 || col("vec_id") % 8 === 3)
    val want = SearchQueries.hybridTopkFromIndexes(
        spark, sfDir, "chyb_search_t", s"$base/sidxt", s"$base/ividxt")
      .collect().toSeq
    val got = SearchQueries.hybridTopkFromIndexesConsistent(
        spark, sfDir, "chyb_search", s"$base/sidx", s"$base/ividx")
      .collect().toSeq
    assert(got.nonEmpty && got == want,
      "the consistent hybrid must equal the batch twin over the common prefix")
    // ...and the registered (oracle-paired) inline twin — the chain the
    // driver's DuckDB compare closes: oracle == search_hybrid_snapshot ==
    // this serving read
    assert(got == SparkEntry.queries("search_hybrid_snapshot")(spark, sfDir)
      .collect().toSeq,
      "the consistent hybrid must equal the registered snapshot entry")
    // refusal 1: a sibling that was never stream-ingested has no fence —
    // no common snapshot exists, say so loudly
    val e1 = intercept[IllegalArgumentException] {
      SearchQueries.hybridTopkFromIndexesConsistent(
        spark, sfDir, "chyb_search", s"$base/sidx", s"$base/ividxt")
    }
    assert(e1.getMessage.contains("fence"), e1.getMessage)
    // refusal 2: siblings ingested under DIFFERENT lineages — batch ids
    // are incomparable across checkpoints
    assert(SimilarityQueries.ingestIvfBatch(
      spark, sfDir, s"$base/ividxt", v0, 0L, streamId = "other"))
    val e2 = intercept[IllegalArgumentException] {
      SearchQueries.hybridTopkFromIndexesConsistent(
        spark, sfDir, "chyb_search", s"$base/sidx", s"$base/ividxt")
    }
    assert(e2.getMessage.contains("lineage"), e2.getMessage)
  }

  test("hybrid ingest group: one corpus batch feeds lexical + vector siblings; modality-boundary crash converges; consistent read and group clone serve the group's own output") {
    // the r19 group pin extended across the MODALITY boundary: one
    // runner (runHybridIngest) fences the lexical postings AND the IVF
    // index under one (checkpoint, batch-id) lineage, so the consistent
    // hybrid read resolves the group's OWN output with no hand-staged
    // ingestIvfBatch calls — the exact composition the r19 chyb pin had
    // to stage by hand. Staging constants are the registered
    // search_hybrid_snapshot entry's (bootstrap id % 4 <> 3, batch 0 =
    // id % 8 = 3, batch 1 = id % 8 = 7), so every state along the way
    // compares against an ORACLE-PAIRED entry, never a hand-computed
    // expectation.
    import graft.operators.{SearchQueries, SimilarityQueries}
    import graft.streaming.DocumentsStream
    val base = java.nio.file.Files.createTempDirectory("graft-hybgrp").toString
    SearchQueries.writeSearchIndexWhere(
      spark, sfDir, "hg_search", s"$base/sidx", col("doc_id") % 4 =!= 3)
    SimilarityQueries.writeIvfIndexWhere(
      spark, sfDir, s"$base/ividx", col("vec_id") % 4 =!= 3)
    // one corpus row = a document AND its embedding (aligned id spaces)
    val rows = Tables.documents(spark, sfDir).select("doc_id", "text", "lang")
      .join(Tables.embeddings(spark, sfDir),
        col("doc_id") === col("vec_id"))
      .select("doc_id", "text", "lang", "label", "embedding")
    val targets = DocumentsStream.CorpusIngestTargets(
      search = Some(("hg_search", s"$base/sidx")),
      ivf = Some(s"$base/ividx"))
    def fence(anchor: String) =
      graft.sources.Tombstones.ingestFence(spark, anchor).map(_._2)
    def consistent() = SearchQueries.hybridTopkFromIndexesConsistent(
      spark, sfDir, "hg_search", s"$base/sidx", s"$base/ividx").collect().toSeq
    // ---- batch 0 drains into BOTH modalities under one lineage --------
    rows.filter(col("doc_id") % 8 === 3)
      .coalesce(1).write.mode("append").parquet(s"$base/in")
    DocumentsStream.runHybridIngest(
      spark, s"$base/in", sfDir, targets, s"$base/ckpt")
    assert(fence(s"$base/sidx").contains(0L) && fence(s"$base/ividx").contains(0L),
      "one drain must fence both modalities at batch 0")
    val snapshotEntry = SparkEntry.queries("search_hybrid_snapshot")(spark, sfDir)
      .collect().toSeq
    assert(snapshotEntry.nonEmpty && consistent() == snapshotEntry,
      "with both siblings at the mark, the consistent read equals the " +
        "oracle-paired prefix hybrid")
    // ---- crash BETWEEN the modality siblings: search (lexical prefix)
    // lands batch 1, the IVF commit dies before its pointer -------------
    rows.filter(col("doc_id") % 8 === 7)
      .coalesce(1).write.mode("append").parquet(s"$base/in")
    graft.sources.IndexManifest.failCommitCountdown = 1
    val crash = intercept[Exception] {
      DocumentsStream.runHybridIngest(
        spark, s"$base/in", sfDir, targets, s"$base/ckpt")
    }
    assert(crash.getMessage.contains("injected") ||
      Option(crash.getCause).exists(_.getMessage.contains("injected")),
      crash.getMessage)
    assert(fence(s"$base/sidx").contains(1L),
      "the lexical sibling must have committed batch 1")
    assert(fence(s"$base/ividx").contains(0L),
      "the vector sibling must still be at batch 0 after the mid-group crash")
    // the serving guarantee mid-divergence: the consistent read refuses
    // to mix the two corpus states and serves the COMMON prefix — still
    // the oracle-paired entry, with batch 1 invisible although the
    // lexical index has committed it
    assert(consistent() == snapshotEntry,
      "mid-divergence the consistent read must serve the common prefix")
    // ---- group snapshot export at the common fence --------------------
    // freeze the index SET a model would train on: both clones at the
    // min common (lineage, batch-id) mark, owning their copies
    val (_, hwm) = SearchQueries.cloneHybridGroupAsOf(
      spark, "hg_search", s"$base/sidx", s"$base/ividx",
      "hg_search_clone", s"$base/sidxc", s"$base/ividxc")
    assert(hwm == 0L, s"the common fence mid-divergence is batch 0, got $hwm")
    def cloneHybrid() = SearchQueries.hybridTopkFromIndexes(
      spark, sfDir, "hg_search_clone", s"$base/sidxc", s"$base/ividxc")
      .collect().toSeq
    assert(cloneHybrid() == snapshotEntry,
      "the frozen group must probe exactly the consistent state it cloned")
    // a fence PAST the common mark refuses loudly
    val ePast = intercept[IllegalArgumentException] {
      SearchQueries.cloneHybridGroupAsOf(
        spark, "hg_search", s"$base/sidx", s"$base/ividx",
        "hg_x", s"$base/x1", s"$base/x2", fence = Some(1L))
    }
    assert(ePast.getMessage.contains("common"), ePast.getMessage)
    // ---- replay converges the group across the modality boundary ------
    DocumentsStream.runHybridIngest(
      spark, s"$base/in", sfDir, targets, s"$base/ckpt")
    assert(fence(s"$base/sidx").contains(1L) && fence(s"$base/ividx").contains(1L))
    // both modalities now hold the FULL corpus: every probe equals its
    // oracle-paired full-corpus entry (search skipped the replayed batch
    // on its fence; ivf ingested it)
    val bmEntry = SparkEntry.queries("search_bm25_topk")(spark, sfDir)
    val bmCols = bmEntry.columns.map(col).toSeq
    assert(SearchQueries.bm25TopkFromIndex(spark, "hg_search", s"$base/sidx")
        .select(bmCols: _*).orderBy(bmCols: _*).collect().toSeq ==
      bmEntry.orderBy(bmCols: _*).collect().toSeq,
      "the lexical sibling must converge to the full-corpus ranking")
    val ivfEntry = SparkEntry.queries("ann_ivf_topk")(spark, sfDir)
    val ivfCols = ivfEntry.columns.map(col).toSeq
    assert(SimilarityQueries.ivfTopkFromIndex(spark, sfDir, s"$base/ividx")
        .select(ivfCols: _*).orderBy(ivfCols: _*).collect().toSeq ==
      ivfEntry.orderBy(ivfCols: _*).collect().toSeq,
      "the vector sibling must converge to the full-corpus ranking")
    // converged ⇒ the consistent read equals the LIVE index-served hybrid
    // (whose component lists were just pinned to their oracle-paired
    // entries; the registered search_hybrid_rrf is the brute-force-vector
    // fusion, a different system by design)
    val fullHybrid = SearchQueries.hybridTopkFromIndexes(
      spark, sfDir, "hg_search", s"$base/sidx", s"$base/ividx").collect().toSeq
    assert(fullHybrid.nonEmpty && consistent() == fullHybrid,
      "with the group converged, the consistent read equals the live hybrid")
    // replay-after-success: a no-op on both modalities
    DocumentsStream.runHybridIngest(
      spark, s"$base/in", sfDir, targets, s"$base/ckpt")
    assert(fence(s"$base/sidx").contains(1L) && fence(s"$base/ividx").contains(1L))
    assert(consistent() == fullHybrid)
    // an EXPLICIT earlier fence pins a PAST group state while the live
    // common mark is ahead (the training-ledger use: re-freeze the set a
    // model trained on) — exact while its epochs are within the current
    // generation, i.e. before a fold
    assert(SearchQueries.cloneHybridGroupAsOf(
      spark, "hg_search", s"$base/sidx", s"$base/ividx",
      "hg_search_clone0", s"$base/sidxc0", s"$base/ividxc0",
      fence = Some(0L)) == (s"$base/ckpt", 0L))
    assert(SearchQueries.hybridTopkFromIndexes(
        spark, sfDir, "hg_search_clone0", s"$base/sidxc0", s"$base/ividxc0")
      .collect().toSeq == snapshotEntry,
      "the explicit-fence clone must freeze the batch-0 group state")
    // ---- group maintenance + clone survival ---------------------------
    // one maintainGroup call folds whatever is due across the group
    // (both windows hold 1–2 open batches, past a threshold of 1)...
    val m = graft.sources.Lifecycle.maintainGroup(
      spark, targets, maxDeltaBatches = 1L, holder = "hg_maint",
      leaseWaitMs = 120000L)
    assert(m.keySet == Set("search", "ivf") && m.values.forall(_.folded),
      s"both families were past the fold threshold: $m")
    Seq(s"$base/sidx", s"$base/ividx").foreach { a =>
      assert(graft.sources.IndexManifest.current(spark, a)
        .forall(_.deltas.isEmpty), s"window at $a must fold to empty")
      assert(graft.sources.WriterLease.current(spark, a).isEmpty,
        s"the lease at $a must be released")
    }
    // ...vacuum reclaims everything the folds retired (the group clones
    // OWN their copies, so total reclaim cannot touch them)...
    graft.sources.Tombstones.vacuum(spark, s"$base/sidx", keepEpochs = 0)
    graft.sources.Tombstones.vacuum(
      spark, s"$base/ividx", Some(s"$base/ividx"), keepEpochs = 0)
    // ...the live group still serves (fence rode the folds), and the
    // frozen group still serves the state it was cloned at
    assert(consistent() == fullHybrid,
      "the consistent read must survive the group fold + vacuum")
    assert(cloneHybrid() == snapshotEntry,
      "the group clone must outlive the source folds and vacuum")
  }

  test("hybrid group drain + concurrent group maintenance: maintainGroup crons beside runHybridIngest across the modality boundary") {
    // the r19 lexical soak's missing surface: the VECTOR family
    // maintained (debt-check → compactIvfIndex → vacuum) while the same
    // index drains ingest batches — the runner's per-batch lease and the
    // maintainer's verified lease serialize on the immutable IVF anchor
    // exactly as the location-anchored families do on their moving one.
    // Pins: zero maintenance pages, the fold policy fires mid-drain,
    // windows settle, and BOTH modalities equal their eager twins.
    import graft.operators.{SearchQueries, SimilarityQueries}
    import graft.streaming.DocumentsStream
    val base = java.nio.file.Files.createTempDirectory("graft-hybmaint").toString
    SearchQueries.writeSearchIndex(spark, sfDir, "hm_search", s"$base/sidx")
    SearchQueries.writeSearchIndex(spark, sfDir, "hm_search_e", s"$base/sidxe")
    SimilarityQueries.writeIvfIndex(spark, sfDir, s"$base/vidx")
    SimilarityQueries.writeIvfIndex(spark, sfDir, s"$base/vidxe")
    val rows = Tables.documents(spark, sfDir).select("doc_id", "text", "lang")
      .join(Tables.embeddings(spark, sfDir), col("doc_id") === col("vec_id"))
      .select("doc_id", "text", "lang", "label", "embedding")
    val batches = (0 until 6).map(m =>
      rows.filter(col("doc_id") % 11 === m)
        .select(col("doc_id") + (m + 1) * 1000000L as "doc_id",
          col("text"), col("lang"), col("label"), col("embedding")))
    batches.foreach(_.coalesce(1).write.mode("append").parquet(s"$base/in"))
    val targets = DocumentsStream.CorpusIngestTargets(
      search = Some(("hm_search", s"$base/sidx")), ivf = Some(s"$base/vidx"))
    @volatile var stop = false
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val folds = new java.util.concurrent.atomic.AtomicInteger()
    def passGroup() = graft.sources.Lifecycle.maintainGroup(
      spark, targets, maxDeltaBatches = 2L, holder = "hm_maint",
      leaseWaitMs = 120000L)
    val maintainer = new Thread(() => {
      while (!stop) {
        try passGroup().values.foreach(m => if (m.folded) folds.incrementAndGet())
        catch { case t: Throwable => errs.add(t) }
        Thread.sleep(300)
      }
    })
    maintainer.start()
    try DocumentsStream.runHybridIngest(
      spark, s"$base/in", sfDir, targets, s"$base/ckpt")
    finally { stop = true; maintainer.join(180000) }
    assert(!maintainer.isAlive, "maintenance thread must stop")
    assert(errs.isEmpty, s"maintenance must never page: ${errs.peek()}")
    val settled = passGroup()
    assert(settled.keySet == Set("search", "ivf"))
    assert(folds.get() >= 1, "the fold policy must have fired mid-drain")
    Seq(s"$base/sidx", s"$base/vidx").foreach { a =>
      assert(graft.sources.WriterLease.current(spark, a).isEmpty,
        s"the lease at $a must be released on every exit path")
      assert(graft.sources.IndexManifest.current(spark, a)
        .forall(_.deltas.size < 2), s"window at $a must settle below the threshold")
    }
    // exactness across the boundary: each modality equals its eager twin
    batches.foreach { b =>
      SearchQueries.bufferSearchUpdate(spark, "hm_search_e", s"$base/sidxe",
        b.select("doc_id", "text", "lang"))
      SimilarityQueries.bufferIvfUpdate(spark, sfDir, s"$base/vidxe",
        b.select(col("doc_id").as("vec_id"), col("label"), col("embedding")))
    }
    def sortedRows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(df.columns.map(col).toSeq: _*).collect().toSeq
    val bmGot = sortedRows(
      SearchQueries.bm25TopkFromIndex(spark, "hm_search", s"$base/sidx"))
    assert(bmGot.nonEmpty && bmGot == sortedRows(
      SearchQueries.bm25TopkFromIndex(spark, "hm_search_e", s"$base/sidxe")))
    val vGot = sortedRows(SimilarityQueries.ivfTopkFromIndex(spark, sfDir, s"$base/vidx"))
    assert(vGot.nonEmpty && vGot == sortedRows(
      SimilarityQueries.ivfTopkFromIndex(spark, sfDir, s"$base/vidxe")))
  }

  test("five-family hybrid group: every text-corpus family ingests under one lineage; maintainGroup reports all five in commit order") {
    // the COMPLETE composition: postings + band + winnow + prefix + IVF
    // fed by one runHybridIngest lineage, then settled by one
    // maintainGroup call whose result iterates in the documented COMMIT
    // ORDER for all five families (the >4-entry ordering is load-bearing:
    // a plain Map drops it exactly there — review-found).
    import graft.operators.{DedupQueries, SearchQueries, SimilarityQueries}
    import graft.streaming.DocumentsStream
    val base = java.nio.file.Files.createTempDirectory("graft-fivegrp").toString
    SearchQueries.writeSearchIndex(spark, sfDir, "fg_search", s"$base/sidx")
    val thr = DedupQueries.writeBandIndex(spark, sfDir, "fg_band", s"$base/bidx")
    DedupQueries.writeWinnowIndex(spark, sfDir, "fg_winnow", s"$base/widx")
    DedupQueries.writePrefixIndex(spark, sfDir, "fg_prefix", s"$base/pidx")
    SimilarityQueries.writeIvfIndex(spark, sfDir, s"$base/vidx")
    val rows = Tables.documents(spark, sfDir).select("doc_id", "text", "lang")
      .join(Tables.embeddings(spark, sfDir), col("doc_id") === col("vec_id"))
      .select("doc_id", "text", "lang", "label", "embedding")
    (0 until 2).foreach { m =>
      rows.filter(col("doc_id") % 9 === m && col("doc_id") < thr)
        .select(col("doc_id") + (m + 1) * 2000000L as "doc_id",
          col("text"), col("lang"), col("label"), col("embedding"))
        .coalesce(1).write.mode("append").parquet(s"$base/in")
    }
    val targets = DocumentsStream.CorpusIngestTargets(
      search = Some(("fg_search", s"$base/sidx")),
      band = Some("fg_band"), winnow = Some("fg_winnow"),
      prefix = Some("fg_prefix"), ivf = Some(s"$base/vidx"))
    DocumentsStream.runHybridIngest(
      spark, s"$base/in", sfDir, targets, s"$base/ckpt")
    // every family fenced at batch 1 under the one lineage
    def loc(t: String) = graft.sources.Tombstones.tableLocation(spark, t)
    Seq(s"$base/sidx", loc("fg_band"), loc("fg_winnow"), loc("fg_prefix"),
        s"$base/vidx").foreach { a =>
      assert(graft.sources.Tombstones.ingestFence(spark, a)
        .contains((s"$base/ckpt", 1L)), s"fence missing at $a")
    }
    // one maintenance call settles all five; the result preserves the
    // group's COMMIT ORDER past the 4-entry Map boundary
    val m = graft.sources.Lifecycle.maintainGroup(
      spark, targets, maxDeltaBatches = 1L, holder = "fg_maint",
      leaseWaitMs = 120000L)
    assert(m.keys.toSeq == Seq("search", "band", "winnow", "prefix", "ivf"),
      s"maintainGroup must iterate in commit order, got ${m.keys.toSeq}")
    assert(m.values.forall(_.folded), s"all five windows were past the threshold: $m")
    Seq(s"$base/sidx", loc("fg_band"), loc("fg_winnow"), loc("fg_prefix"),
        s"$base/vidx").foreach { a =>
      assert(graft.sources.IndexManifest.current(spark, a)
        .forall(_.deltas.isEmpty), s"window at $a must fold to empty")
      assert(graft.sources.WriterLease.current(spark, a).isEmpty)
    }
  }

  test("asset ingest group: one media batch feeds phash + embedding siblings; modality-boundary crash converges; one-call group maintenance settles it") {
    // the non-text modality's group symmetry: runAssetIngest fences the
    // perceptual-hash index AND the asset-embedding IVF index under one
    // (checkpoint, batch-id) lineage — with it, every persisted family
    // the library ships composes into a fenced group.
    import graft.operators.{Multimodal, MultimodalQueries, SimilarityQueries}
    import graft.streaming.DocumentsStream
    val base = java.nio.file.Files.createTempDirectory("graft-assetgrp").toString
    MultimodalQueries.writePhashIndex(spark, sfDir, "ag_phash", s"$base/pidx")
    MultimodalQueries.writePhashIndex(spark, sfDir, "ag_phash_e", s"$base/pidxe")
    SimilarityQueries.writeIvfIndex(spark, sfDir, s"$base/vidx")
    SimilarityQueries.writeIvfIndex(spark, sfDir, s"$base/vidxe")
    // one asset row = the binary payload AND its encoder embedding
    // (aligned id spaces); fresh ids below the 1e6 variant bound
    val assets = Multimodal.documentsAsAssets(spark, sfDir)
      .select("asset_id", "payload", "format")
      .join(Tables.embeddings(spark, sfDir), col("asset_id") === col("vec_id"))
      .select("asset_id", "payload", "format", "label", "embedding")
    def mk(m: Int, off: Long) = assets.filter(col("asset_id") % 13 === m)
      .select(col("asset_id") + off as "asset_id", col("payload"),
        col("format"), col("label"), col("embedding"))
    val b1 = mk(1, 300000L)
    val b2 = mk(4, 400000L)
    val targets = DocumentsStream.AssetIngestTargets(
      phash = Some("ag_phash"), ivf = Some(s"$base/vidx"))
    def fence(anchor: String) =
      graft.sources.Tombstones.ingestFence(spark, anchor).map(_._2)
    def ploc() = graft.sources.Tombstones.tableLocation(spark, "ag_phash")
    // ---- batch 0 drains into BOTH modalities under one lineage --------
    b1.coalesce(1).write.mode("append").parquet(s"$base/in")
    DocumentsStream.runAssetIngest(
      spark, s"$base/in", sfDir, targets, s"$base/ckpt")
    assert(fence(ploc()).contains(0L) && fence(s"$base/vidx").contains(0L),
      "one drain must fence both modalities at batch 0")
    // ---- crash BETWEEN the modality siblings --------------------------
    b2.coalesce(1).write.mode("append").parquet(s"$base/in")
    graft.sources.IndexManifest.failCommitCountdown = 1
    val crash = intercept[Exception] {
      DocumentsStream.runAssetIngest(
        spark, s"$base/in", sfDir, targets, s"$base/ckpt")
    }
    assert(crash.getMessage.contains("injected") ||
      Option(crash.getCause).exists(_.getMessage.contains("injected")),
      crash.getMessage)
    assert(fence(ploc()).contains(1L), "phash must have committed batch 1")
    assert(fence(s"$base/vidx").contains(0L),
      "the embedding sibling must still be at batch 0 after the crash")
    // ---- replay converges both; every family equals its eager twin ----
    DocumentsStream.runAssetIngest(
      spark, s"$base/in", sfDir, targets, s"$base/ckpt")
    assert(fence(ploc()).contains(1L) && fence(s"$base/vidx").contains(1L))
    Seq(b1, b2).foreach { b =>
      MultimodalQueries.bufferPhashUpdate(
        b.select("asset_id", "payload", "format"), "ag_phash_e")
      SimilarityQueries.bufferIvfUpdate(spark, sfDir, s"$base/vidxe",
        b.select(col("asset_id").as("vec_id"), col("label"), col("embedding")))
    }
    def pframe(t: String) = MultimodalQueries.phashIndexFrame(spark, t)
      .orderBy("asset_id", "bk").collect().toSeq
    val pGot = pframe("ag_phash")
    assert(pGot.nonEmpty && pGot == pframe("ag_phash_e"))
    def vprobe(p: String) = SimilarityQueries.ivfTopkFromIndex(spark, sfDir, p)
      .orderBy("q_id", "rank").collect().toSeq
    val vGot = vprobe(s"$base/vidx")
    assert(vGot.nonEmpty && vGot == vprobe(s"$base/vidxe"))
    // replay-after-success: a no-op on both
    DocumentsStream.runAssetIngest(
      spark, s"$base/in", sfDir, targets, s"$base/ckpt")
    assert(pframe("ag_phash") == pGot && vprobe(s"$base/vidx") == vGot)
    // ---- one-call group maintenance settles both windows --------------
    val m = graft.sources.Lifecycle.maintainAssetGroup(
      spark, targets, maxDeltaBatches = 1L, holder = "ag_maint",
      leaseWaitMs = 120000L)
    assert(m.keySet == Set("phash", "ivf") && m.values.forall(_.folded), s"$m")
    Seq(ploc(), s"$base/vidx").foreach { a =>
      assert(graft.sources.IndexManifest.current(spark, a)
        .forall(_.deltas.isEmpty), s"window at $a must fold to empty")
      assert(graft.sources.WriterLease.current(spark, a).isEmpty)
    }
    // folds preserve every probe result
    assert(pframe("ag_phash") == pGot && vprobe(s"$base/vidx") == vGot)
  }

  test("one-call maintenance runs concurrently with a draining ingest: lease-serialized, policy-triggered folds, exact final probe") {
    // Lifecycle.maintain as an operator would cron it — a SEPARATE thread
    // looping debt-check → fold-if-due → vacuum against an index a
    // streaming drain is actively mutating. The shared per-anchor lease
    // serializes the two writers (zero collision pages), the fold policy
    // fires at least once at this cadence, and the drained+maintained
    // index still equals the one-shot build.
    import graft.operators.SearchQueries
    import graft.streaming.SearchStream
    val base = java.nio.file.Files.createTempDirectory("graft-maint").toString
    SearchQueries.writeSearchIndexWhere(
      spark, sfDir, "maint_idx", s"$base/idx", lit(false))
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text", "lang")
    (0 until 12).foreach { m =>
      docs.filter(col("doc_id") % 12 === m)
        .coalesce(1).write.mode("append").parquet(s"$base/in")
    }
    @volatile var stop = false
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val folds = new java.util.concurrent.atomic.AtomicInteger()
    def maintainOnce() = graft.sources.Lifecycle.maintain(
      spark, s"$base/idx", "search", spark.table("maint_idx"), "doc_id",
      SearchQueries.compactSearchIndex(spark, "maint_idx", s"$base/idx"),
      maxDeltaBatches = 3L, holder = "maint",
      leaseWaitMs = 120000L)
    val maintainer = new Thread(() => {
      while (!stop) {
        try { if (maintainOnce().folded) folds.incrementAndGet() }
        catch { case t: Throwable => errs.add(t) }
        Thread.sleep(500)
      }
    })
    maintainer.start()
    try SearchStream.runSearchIngest(
      spark, s"$base/in", "maint_idx", s"$base/idx", s"$base/ckpt")
    finally { stop = true; maintainer.join(180000) }
    assert(!maintainer.isAlive, "maintenance thread must stop")
    assert(errs.isEmpty, s"maintenance must never page: ${errs.peek()}")
    // a final pass settles any residue the drain left past the threshold
    maintainOnce()
    assert(folds.get() >= 1, "the fold policy must have fired at this cadence")
    // the lease is released on every exit path
    assert(graft.sources.WriterLease.current(spark, s"$base/idx").isEmpty)
    // the maintained index still serves exactly the one-shot build
    val direct = SparkEntry.queries("search_bm25_topk")(spark, sfDir)
    val cols = direct.columns.map(col).toSeq
    val got = SearchQueries.bm25TopkFromIndex(spark, "maint_idx", s"$base/idx")
      .select(cols: _*).orderBy(cols: _*).collect().toSeq
    assert(got.nonEmpty && got == direct.orderBy(cols: _*).collect().toSeq)
    // and the settled window sits below the fold threshold
    assert(graft.sources.IndexManifest.current(spark, s"$base/idx")
      .forall(_.deltas.size < 3), "maintenance must keep the window bounded")
  }

  test("group drain + concurrent per-family maintenance: four cron loops against one corpus ingest group, exact final state") {
    // the deployment split the composed lifecycle implies: the GROUP
    // runner only ingests (foldEvery = 0), and a separate maintenance
    // thread crons one Lifecycle.maintainGroup pass per tick over the
    // four families, each family serialized against the runner by its
    // anchor's lease. Pins: no maintenance pass ever pages, the fold policy fires on at
    // least one family mid-drain, every family's final state equals its
    // eagerly-buffered twin, and every settled window sits below the
    // fold threshold.
    import graft.operators.{DedupQueries, SearchQueries}
    import graft.streaming.DocumentsStream
    val base = java.nio.file.Files.createTempDirectory("graft-groupmaint").toString
    SearchQueries.writeSearchIndex(spark, sfDir, "gm_search_idx", s"$base/sidx")
    val thr = DedupQueries.writeBandIndex(spark, sfDir, "gm_band_idx", s"$base/bidx")
    DedupQueries.writeWinnowIndex(spark, sfDir, "gm_winnow_idx", s"$base/widx")
    DedupQueries.writePrefixIndex(spark, sfDir, "gm_prefix_idx", s"$base/pidx")
    SearchQueries.writeSearchIndex(spark, sfDir, "gm_search_idx_e", s"$base/sidxe")
    DedupQueries.writeBandIndex(spark, sfDir, "gm_band_idx_e", s"$base/bidxe")
    DedupQueries.writeWinnowIndex(spark, sfDir, "gm_winnow_idx_e", s"$base/widxe")
    DedupQueries.writePrefixIndex(spark, sfDir, "gm_prefix_idx_e", s"$base/pidxe")
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text", "lang")
    val batches = (0 until 6).map(m =>
      docs.filter(col("doc_id") % 11 === m && col("doc_id") < thr)
        .select(col("doc_id") + (m + 1) * 1000000L as "doc_id",
          col("text"), col("lang")))
    batches.foreach(_.coalesce(1).write.mode("append").parquet(s"$base/in"))
    val targets = DocumentsStream.CorpusIngestTargets(
      search = Some(("gm_search_idx", s"$base/sidx")),
      band = Some("gm_band_idx"),
      winnow = Some("gm_winnow_idx"),
      prefix = Some("gm_prefix_idx"))
    @volatile var stop = false
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val folds = new java.util.concurrent.atomic.AtomicInteger()
    def loc(t: String) = graft.sources.Tombstones.tableLocation(spark, t)
    // ONE call per cron tick: maintainGroup derives every family's
    // anchor, debt frame, fold, and live-location resolver from the SAME
    // CorpusIngestTargets the runner drains
    def passGroup(): Map[String, graft.sources.Lifecycle.Maintenance] =
      graft.sources.Lifecycle.maintainGroup(
        spark, targets, maxDeltaBatches = 2L, holder = "gm_maint",
        leaseWaitMs = 120000L)
    val maintainer = new Thread(() => {
      while (!stop) {
        try passGroup().values.foreach(m => if (m.folded) folds.incrementAndGet())
        catch { case t: Throwable => errs.add(t) }
        Thread.sleep(300)
      }
    })
    maintainer.start()
    try DocumentsStream.runCorpusIngest(
      spark, s"$base/in", targets, s"$base/ckpt")
    finally { stop = true; maintainer.join(180000) }
    assert(!maintainer.isAlive, "maintenance thread must stop")
    assert(errs.isEmpty, s"maintenance must never page: ${errs.peek()}")
    // settle any residue past the threshold, then check the windows
    assert(passGroup().keySet == Set("search", "band", "winnow", "prefix"))
    assert(folds.get() >= 1, "the fold policy must have fired mid-drain")
    Seq(s"$base/sidx", loc("gm_band_idx"), loc("gm_winnow_idx"),
        loc("gm_prefix_idx")).foreach { a =>
      assert(graft.sources.WriterLease.current(spark, a).isEmpty,
        s"the lease at $a must be released on every exit path")
      assert(graft.sources.IndexManifest.current(spark, a)
        .forall(_.deltas.size < 2), s"window at $a must settle below the threshold")
    }
    // exactness: every family equals its eagerly-buffered twin
    batches.foreach { b =>
      SearchQueries.bufferSearchUpdate(spark, "gm_search_idx_e", s"$base/sidxe", b)
      DedupQueries.bufferBandUpdate(b.select("doc_id", "text"), "gm_band_idx_e")
      DedupQueries.bufferWinnowUpdate(b.select("doc_id", "text"), "gm_winnow_idx_e")
      DedupQueries.bufferPrefixUpdate(b.select("doc_id", "text"), "gm_prefix_idx_e")
    }
    def sortedRows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(df.columns.map(col).toSeq: _*).collect().toSeq
    assert(sortedRows(SearchQueries.bm25TopkFromIndex(
        spark, "gm_search_idx", s"$base/sidx")) ==
      sortedRows(SearchQueries.bm25TopkFromIndex(
        spark, "gm_search_idx_e", s"$base/sidxe")))
    val bandGot = sortedRows(DedupQueries.bandIndexFrame(spark, "gm_band_idx"))
    assert(bandGot.nonEmpty &&
      bandGot == sortedRows(DedupQueries.bandIndexFrame(spark, "gm_band_idx_e")))
    val winGot = sortedRows(DedupQueries.winnowIndexFrame(spark, "gm_winnow_idx"))
    assert(winGot.nonEmpty &&
      winGot == sortedRows(DedupQueries.winnowIndexFrame(spark, "gm_winnow_idx_e")))
    val pfxGot = sortedRows(DedupQueries.prefixIndexFrames(spark, "gm_prefix_idx")._1)
    assert(pfxGot.nonEmpty &&
      pfxGot == sortedRows(DedupQueries.prefixIndexFrames(spark, "gm_prefix_idx_e")._1))
  }

  test("streaming helpers restore the nanosAsLong conf after the drain") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.unset(key)
    EventsStream.runOnce(
      EventsStream.tumblingCounts(EventsStream.readEvents(spark, sfDir)),
      "stream_conf_scope_test", "complete")
    // getOption reports the conf's default ("false") even when unset — the
    // leak being guarded against is the value remaining "true"
    assert(spark.conf.getOption(key).forall(_ != "true"),
      "nanosAsLong leaked into the session after a streaming drain")
  }
}
