package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.streaming.Trigger

import graft.Tables
import Runner.{drain, readFiles}

/** Structured Streaming over the `events` table (SURVEY.md §2.9 build-out).
  *
  * The reference only "streams" as out-of-core batch iteration
  * (/root/reference/app.py:109); real streaming semantics — unbounded file
  * source, event-time watermark, tumbling windows, incremental state — are
  * new surface. The aggregation here is IDENTICAL to the batch
  * `q_events_tumbling` query (same `window()` call), which is how it stays
  * verifiable: StreamingSpec asserts stream output == batch output, and the
  * batch twin hash-matches the DuckDB oracle.
  *
  * At scale: the file source incrementally lists new files per trigger;
  * watermark bounds state (late events beyond 1h are dropped); the windowed
  * aggregation shuffles on (window, event_type) with partial aggregation
  * per micro-batch.
  */
object EventsStream {

  /** Raw schema of events.parquet with the FOOTER-RESOLVED type of `ts`
    * plugged in. A streaming source needs an explicit schema (no inference),
    * and pinning `ts` wrong silently corrupts values: an explicit LongType
    * over a µs-TIMESTAMP column hands back raw micros as longs, which the
    * old unconditional `ts div 1000` then shredded into 1970-range instants
    * (round-10 testdata regeneration). So the schema is parameterized by
    * the footer probe ([[probeTsType]]), the same source of truth
    * Tables.events branches on.
    */
  private def rawSchema(tsType: DataType): StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Footer-resolved type of `ts`, read on the driver through
    * [[graft.sources.Sink.parquetSchema]] under [[Tables.withNanosLongConf]]
    * (no Spark job, so nothing is cached: a rewritten input is re-resolved
    * on the next call). LongType ⇔ the file carries TIMESTAMP(NANOS); µs
    * files resolve to TimestampNTZ/Timestamp and ignore the conf. The probe
    * is EAGER by design — it runs at plan-construction time, so the input
    * must exist before the stream is constructed. That is deliberate: the
    * alternative (guessing a schema for a not-yet-written path) is exactly
    * the silent-timestamp-corruption class the probe exists to prevent, so
    * a missing path fails loudly here instead.
    */
  private def probeTsType(spark: SparkSession, dir: String): DataType =
    try Tables.withNanosLongConf(spark) {
      graft.sources.Sink.parquetSchema(spark, s"$dir/events.parquet")("ts").dataType
    } catch { case e @ (_: java.io.IOException | _: IllegalArgumentException) =>
      throw new IllegalStateException(
        s"EventsStream.readEvents: cannot probe $dir/events.parquet's " +
          "footer — the source resolves events.ts's physical type at " +
          "STREAM-CONSTRUCTION time (guessing would silently corrupt " +
          "timestamps if wrong), so the input file must exist before the " +
          s"stream is constructed. Underlying error: ${e.getMessage}", e)
    }

  /** Unbounded view of the events table: readStream + the `ts`
    * normalization Tables.events applies ([[Tables.normalizeEventsTs]] —
    * SchemaCanarySpec pins the batch side, StreamingSpec's stream==batch
    * equalities pin this one). No conf mutation at plan time — the explicit
    * schema defers resolution to the scan, which happens when the query
    * STARTS; callers on nanos-era data wrap start()/awaitTermination() in
    * [[withNanosLongConf]] (harmless on µs data). NOTE the
    * construction-time footer probe ([[probeTsType]]): the input path must
    * be readable when this is called, not merely when the query starts.
    */
  def readEvents(spark: SparkSession, dir: String): DataFrame =
    // glob rather than literal file path: the streaming file source derives
    // its basePath from the non-glob prefix, and basePath must be a directory
    Tables.normalizeEventsTs(spark.readStream
      .schema(rawSchema(probeTsType(spark, dir)))
      .parquet(s"$dir/events.parque[t]"))

  /** [[Tables.withNanosLongConf]], for stream callers: wrap the query's
    * start() AND awaitTermination() in it (a streaming query clones the
    * session conf when it starts).
    */
  def withNanosLongConf[T](spark: SparkSession)(f: => T): T =
    Tables.withNanosLongConf(spark)(f)

  /** The streaming transform: watermarked hourly tumbling counts per type. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("hour_start"), col("event_type"), col("n"))

  /** Streaming sessionization: the same `session_window` call as the batch
    * `q_events_session` query (which hash-matches the DuckDB oracle), run
    * incrementally with merging session state per user.
    */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("user_id"),
        col("session_window.start").as("session_start"),
        col("n_events"))

  /** Streaming exact dedup: watermarked dropDuplicates on the event key.
    * This is the streaming face of dedup_exact, with EXACT whole-stream
    * semantics: a duplicate is dropped no matter how far apart the copies
    * arrive. That exactness has a price the caller must know about —
    * because `event_id` alone is the state key and the event-time column is
    * not part of it, the watermark CANNOT evict dedup state (Spark only
    * cleans dropDuplicates state when the watermark column is among the
    * keys), so the store grows with distinct keys for the stream's
    * lifetime. Correct default for bounded replays and modest key spaces;
    * for an unbounded 100 TB ingest use [[dedupedEventsBounded]].
    */
  def dedupedEvents(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour").dropDuplicates("event_id")

  /** Bounded-state stream dedup: `dropDuplicatesWithinWatermark` keeps one
    * state entry per key only until the watermark passes the first
    * sighting's event time + delay, then evicts — memory is O(keys inside
    * the watermark horizon), not O(stream). The semantics trade: copies
    * arriving FARTHER apart than the watermark delay are no longer
    * collapsed. That is the right contract for ingest idempotence at fleet
    * scale, where duplicates come from bounded retry/redelivery windows
    * (at-least-once sources re-deliver within minutes, not days) and the
    * key space grows without bound.
    */
  def dedupedEventsBounded(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark("event_id")

  /** Custom incremental state via mapGroupsWithState: per-user running event
    * count and last-seen timestamp — the escape hatch for state machines that
    * windowed aggregation can't express (builder mandate §2.9). State is one
    * (count, lastTs) pair per user, and — crucially for a long-running
    * stream — it is EVICTED via EventTimeTimeout once a user has been idle
    * past `idleTimeoutMs` of event time: the store holds only users active
    * inside the idle horizon, O(active users), not O(all users ever seen).
    * An evicted user's final tally is emitted with `evicted = true`.
    */
  def userRunningCounts(events: DataFrame, idleTimeoutMs: Long = 2 * 3600 * 1000L): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupState
    // the watermarked `ts` attribute itself must reach the stateful operator
    // (a derived unix_micros(ts) column would drop the watermark metadata),
    // so the µs conversion happens inside the state function
    def micros(t: java.sql.Timestamp): Long =
      t.getTime / 1000L * 1000000L + t.getNanos / 1000L
    events
      .withWatermark("ts", "1 hour")
      .select(col("user_id").as[Long], col("ts").as[java.sql.Timestamp])
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, Long), (Long, Long, Long, Boolean)](
        org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout) {
        case (user: Long, rows: Iterator[(Long, java.sql.Timestamp)], state: GroupState[(Long, Long)]) =>
          if (state.hasTimedOut) {
            val (n, last) = state.get
            state.remove()
            (user, n, last, true)
          } else {
            val (n0, last0) = state.getOption.getOrElse((0L, Long.MinValue))
            var n = n0
            var last = last0
            rows.foreach { case (_, t) => n += 1; val ts = micros(t); if (ts > last) last = ts }
            state.update((n, last))
            // timeout must sit above the current watermark (Spark rejects
            // timestamps already expired); idle users evict on the first
            // batch after the watermark passes last-seen + idle horizon
            state.setTimeoutTimestamp(
              math.max(state.getCurrentWatermarkMs + 1, last / 1000 + idleTimeoutMs))
            (user, n, last, false)
          }
      }
      .toDF("user_id", "n_events", "last_ts_us", "evicted")
  }

  /** The [[userRunningCounts]] state machine re-expressed on Spark 4's
    * `transformWithState` (the arbitrary-state API that supersedes
    * mapGroupsWithState): typed `ValueState` per user, eviction via an
    * explicit EVENT-TIME TIMER instead of GroupStateTimeout, identical
    * output contract. Differences that matter at scale, demonstrated here:
    * state lives in named, independently-evolvable state variables (a later
    * version can add a ListState without migrating the count), timers are
    * first-class (register/delete — MGWS's single implicit timeout slot
    * becomes an explicit set, so this processor clears stale timers each
    * batch), and the operator REQUIRES the RocksDB state store — the
    * bounded-heap provider a 100 TB deployment runs anyway (StreamingSpec
    * sets it for the equivalence test).
    */
  def userRunningCountsTws(events: DataFrame, idleTimeoutMs: Long = 2 * 3600 * 1000L): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", "1 hour")
      .select(col("user_id").as[Long], col("ts").as[java.sql.Timestamp])
      .groupByKey(_._1)
      .transformWithState(
        new RunningCountProcessor(idleTimeoutMs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        org.apache.spark.sql.streaming.OutputMode.Update())
      .toDF("user_id", "n_events", "last_ts_us", "evicted")
  }

  /** Watermarked stream-stream interval join: each purchase attributed to
    * the same user's views in the preceding hour. Both sides carry
    * watermarks and the join condition bounds purchase_ts to
    * [view_ts, view_ts + 1h], so Spark can expire state on BOTH sides: a
    * buffered view is dropped once the purchase watermark passes
    * view_ts + 1h, a buffered purchase once the view watermark passes its
    * ts — state is O(events inside the watermark horizon), not O(stream).
    */
  def viewPurchaseAttribution(events: DataFrame): DataFrame =
    attributionJoin(events, "inner")

  /** LEFT OUTER variant of [[viewPurchaseAttribution]]: views with no
    * purchase inside the hour still emit (null purchase columns) — but only
    * once the watermark passes view_ts + 1 h, when Spark can prove no match
    * can still arrive. On a bounded replay, unmatched views near stream end
    * whose expiry the final watermark never passes are withheld — the price
    * of correct outer semantics on an unbounded stream (asserted in
    * StreamingSpec).
    */
  def viewPurchaseAttributionOuter(events: DataFrame): DataFrame =
    attributionJoin(events, "left_outer")

  /** One body for both variants so the window/watermark/condition can never
    * drift between the inner and outer paths.
    */
  private def attributionJoin(events: DataFrame, joinType: String): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
      .withWatermark("view_ts", "1 hour")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "1 hour")
    views.join(purchases,
      expr("user_id = p_user_id AND purchase_ts >= view_ts " +
        "AND purchase_ts <= view_ts + interval 1 hour"),
      joinType)
      .select(col("user_id"), col("view_id"), col("purchase_id"),
        col("view_ts"), col("purchase_ts"))
  }

  /** Stream-static enrichment join: the unbounded events stream joined to a
    * small static dimension (re-read per micro-batch, broadcast by the
    * planner). The standard shape for attaching slowly-changing reference
    * data to a live stream without stream-stream state.
    */
  def enrichedCounts(events: DataFrame, dim: DataFrame): DataFrame =
    events
      .join(dim, "event_type")
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("category"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("hour_start"), col("category"), col("n"))

  /** foreachBatch sink: route each micro-batch through a writer Spark has no
    * native streaming sink for — here a dynamic-partition-overwrite parquet
    * load keyed by event day. Re-processing a batch overwrites exactly its
    * partitions, so the sink stays idempotent under retries; this is the
    * escape hatch for JDBC/MERGE-style destinations at fleet scale.
    */
  def runForeachBatchPartitioned(
      spark: SparkSession, dir: String, outPath: String, checkpoint: String): Unit =
    withNanosLongConf(spark) {
      drain(readEvents(spark, dir), checkpoint) { (batch, _) =>
        // the dynamic mode rides on the write, not on the shared session
        batch
          .withColumn("day", date_trunc("day", col("ts")))
          .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
          .partitionBy("day").parquet(outPath)
      }
    }

  /** Streaming as-of enrichment — the standard production shape for
    * "attach the dimension version that was current AT THE EVENT'S TIME":
    * each micro-batch is enriched through the NATIVE as-of join
    * (`graft.plans.Asof`, §2.13) inside `foreachBatch` against a static
    * SCD2 dimension, then appended to the sink. Per-batch application is
    * exactly equivalent to one batch as-of join because the as-of lookup
    * is per-left-row against a fixed right side — StreamingSpec asserts
    * that equivalence. At scale the dimension refreshes per trigger (a
    * re-read inside foreachBatch) and the custom exec's one-exchange-
    * per-side plan runs per micro-batch.
    *
    * Exactly-once caveat: the parquet append below is NOT idempotent — if a
    * micro-batch fails after the write and is retried, its rows land twice.
    * Fine for this bounded AvailableNow demo; a production foreachBatch
    * keys the output by `batchId` (partition-overwrite or MERGE on it) so
    * replays rewrite rather than duplicate — or writes through an
    * epoch-deduplicating V2 streaming sink (`GraftSinkProvider` shows the
    * pattern: commits tagged with the epoch id, replayed epochs dropped).
    *
    * `dim` must carry `dimKeyCol` (join key, renamed so it doesn't clash
    * with the stream's `user_id`) and `dimTimeCol` (µs version timestamp).
    */
  def runAsofEnriched(
      spark: SparkSession, dir: String, outPath: String, checkpoint: String,
      dim: DataFrame, dimKeyCol: String, dimTimeCol: String): Unit =
    withNanosLongConf(spark) {
      val events = readEvents(spark, dir)
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"))
      drain(events, checkpoint) { (batch, _) =>
        graft.plans.Asof.join(
          batch, dim,
          leftOn = Seq("user_id"), rightOn = Seq(dimKeyCol),
          leftTimeCol = "ts_us", rightTimeCol = dimTimeCol)
          .write.mode("append").parquet(outPath)
      }
    }

  /** Per-row data-contract counts for a micro-batch or a full frame. Every
    * constraint here is PER-ROW, so batch reports merge by plain summation
    * into exactly the full-corpus report — the property the streaming
    * monitor rests on. Cross-row constraints (key uniqueness) are
    * deliberately excluded: they are NOT sum-mergeable and live in the
    * batch-only q_quality_expectations.
    */
  def qualityCounts(events: DataFrame): DataFrame =
    events.agg(
      count(lit(1)).as("n_rows"),
      count(when(col("user_id").isNull, 1)).as("null_user"),
      // a NULL event_type violates the domain contract: `NOT isin` alone
      // evaluates to NULL for it (counted as neither violation nor pass),
      // so the null case is an explicit disjunct
      count(when(col("event_type").isNull ||
          !col("event_type").isin("click", "error", "purchase", "signup", "view"), 1))
        .as("bad_type"),
      count(when(col("value") < 0, 1)).as("negative_value"))

  /** The (event_id, ts, user_id, event_type, value) event log the monitor
    * and CDC runners read, `ts` a plain TIMESTAMP.
    */
  private val eventLogSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** Streaming data-contract monitor: append each micro-batch's per-row
    * constraint counts; [[mergedQuality]] sums them into the standing
    * report (drain == one-shot pinned in StreamingSpec). The ingest-side
    * twin of q_quality_expectations.
    */
  def runQualityMonitor(
      spark: SparkSession, inPath: String, outPath: String,
      checkpoint: String): Unit =
    drain(readFiles(spark, eventLogSchema, inPath), checkpoint) { (batch, _) =>
      qualityCounts(batch).write.mode("append").parquet(outPath)
    }

  /** Sum appended per-batch reports into the standing contract report. */
  def mergedQuality(spark: SparkSession, outPath: String): DataFrame =
    spark.read.parquet(outPath)
      .agg(sum("n_rows").as("n_rows"), sum("null_user").as("null_user"),
        sum("bad_type").as("bad_type"), sum("negative_value").as("negative_value"))

  /** Per-segment CDC delta over an event changelog: additive ledger columns
    * (event count, cents sum) plus LATEST-WINS scalar state per user,
    * picked by the total (ts, event_id) order so ties cannot flip across
    * engines or batch splits. Both halves are associative and commutative
    * folds, which is the whole design: any micro-batch partitioning of the
    * log folds to the same snapshot.
    */
  def cdcDeltaOf(events: DataFrame): DataFrame =
    events
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_events"),
        sum(expr("CAST(round(value * 100) AS BIGINT)")).as("sum_cents"),
        max(struct(col("ts"), col("event_id"), col("event_type"))).as("last"))
      .select(col("user_id"), col("n_events"), col("sum_cents"),
        col("last.ts").as("last_ts"), col("last.event_id").as("last_event_id"),
        col("last.event_type").as("last_type"))

  /** Streaming CDC snapshot maintenance, merge-on-read style: each
    * micro-batch appends its [[cdcDeltaOf]] delta (the lakehouse delta-log
    * shape — never rewrite the snapshot in the hot path), and
    * [[mergedCdcSnapshot]] folds the log into the serving snapshot.
    * Because the fold is associative+commutative, drain == one-shot
    * (pinned in StreamingSpec) and compaction is just "replace the log
    * with its fold" on any cadence — the q_cdc_apply batch semantics
    * carried into the streaming plane. At 100 TB each delta is one
    * key-shuffle of its micro-batch only; the standing snapshot is never
    * re-shuffled per trigger.
    */
  def runCdcIngest(
      spark: SparkSession, inPath: String, outPath: String,
      checkpoint: String): Unit =
    drain(readFiles(spark, eventLogSchema, inPath), checkpoint) { (batch, batchId) =>
      // Each delta carries its micro-batch epoch — the delta log's version
      // axis. The fold ignores it (groupBy user_id), but time travel
      // (mergedCdcSnapshotAsOf) filters on it: snapshot AS OF epoch k is
      // the fold of the log prefix, exactly the lakehouse versioned-read.
      cdcDeltaOf(batch).withColumn("epoch", lit(batchId))
        .write.mode("append").parquet(outPath)
    }

  /** Fold the appended delta log into the serving snapshot: sums add,
    * latest-wins re-maximizes over per-batch winners.
    */
  def mergedCdcSnapshot(spark: SparkSession, outPath: String): DataFrame =
    foldCdcDeltas(spark.read.parquet(outPath))

  /** Time travel: the serving snapshot AS OF delta-log epoch [[asOfEpoch]]
    * (inclusive) — fold only the log prefix. Because every delta is tagged
    * with its micro-batch epoch at append time, a versioned read is just a
    * pushed-down filter on the log scan (at 100 TB: partition the log by
    * epoch and this prunes files, reading only the first k deltas); no
    * snapshot history is ever materialized. snapshot(asOf = max epoch) ==
    * mergedCdcSnapshot, and snapshot(asOf = k) == fold of the first k+1
    * micro-batches — both pinned in StreamingSpec.
    */
  def mergedCdcSnapshotAsOf(spark: SparkSession, outPath: String,
                            asOfEpoch: Long): DataFrame =
    foldCdcDeltas(spark.read.parquet(outPath).filter(col("epoch") <= asOfEpoch))

  /** The delta fold itself — split-invariance (any segmentation of the
    * changelog folds to the one-shot delta) is pinned in StreamingSpec.
    */
  def foldCdcDeltas(deltas: DataFrame): DataFrame =
    deltas
      .groupBy("user_id")
      .agg(
        sum("n_events").as("n_events"),
        sum("sum_cents").as("sum_cents"),
        max(struct(col("last_ts"), col("last_event_id"), col("last_type"))).as("last"))
      .select(col("user_id"), col("n_events"), col("sum_cents"),
        col("last.last_ts").as("last_ts"), col("last.last_event_id").as("last_event_id"),
        col("last.last_type").as("last_type"))

  /** Drain the whole (bounded) source once with Trigger.AvailableNow into an
    * in-memory sink and return the materialized result — the test harness
    * for the streaming paths. `complete`/`update` output modes because
    * watermark-close semantics on a bounded replay would hold back the final
    * windows.
    */
  def runOnce(result: DataFrame, queryName: String, mode: String): DataFrame =
    runOnceWithProgress(result, queryName, mode)._1

  /** runOnce + the final StreamingQueryProgress, so tests can assert state
    * bounds (numRowsTotal) after the drain.
    */
  def runOnceWithProgress(
      result: DataFrame,
      queryName: String,
      mode: String): (DataFrame, org.apache.spark.sql.streaming.StreamingQueryProgress) = {
    val spark = result.sparkSession
    withNanosLongConf(spark) {
      val q = result.writeStream
        .format("memory")
        .queryName(queryName)
        .outputMode(mode)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      (spark.table(queryName), q.lastProgress)
    }
  }

  def runTumblingOnce(spark: SparkSession, dir: String, queryName: String): DataFrame =
    runOnce(tumblingCounts(readEvents(spark, dir)), queryName, "complete")

  /** Streaming CUSUM ingest: each micro-batch OVERWRITES its own
    * `batch_id=<id>` subdirectory with its HOURLY CENSUS (event_type, hr,
    * n) — cells are counts, so the per-batch censuses merge by cell-wise
    * SUM into exactly the full-corpus census (the runCmsIngest lifecycle,
    * for changepoint monitoring), and an at-least-once foreachBatch replay
    * REPLACES its census instead of double-counting into the merge. The
    * standing detector re-derives
    * [[graft.operators.EventQueries.cusumOverHourly]] over the merged
    * table on its cadence — CUSUM is a function of the census alone, so
    * drain + merge + detect equals the one-shot `q_events_cusum` exactly
    * (pinned in StreamingSpec). At fleet scale the census write is the
    * only continuous work (tiny rows, one shuffle per trigger); the
    * detector pass is window-over-hour-spine.
    *
    * `outPath` must be FRESH when `checkpoint` is fresh (the StreamingSpec
    * temp-dir discipline): the hive-partitioned `batch_id=` layout cannot
    * coexist with flat part files from a pre-r13 run, and partition
    * discovery fails loudly on the mix. A stale-batch overwrite is
    * delete-then-write (non-atomic); a crash between the two leaves a
    * missing batch dir that the replay itself repairs on restart.
    */
  def runCusumIngest(
      spark: SparkSession, dir: String, outPath: String,
      checkpoint: String): Unit =
    drain(readEvents(spark, dir), checkpoint) { (batch, batchId) =>
      // idempotent per batch: each micro-batch OVERWRITES its own
      // batch_id=<id> subdirectory, so a replayed batch (foreachBatch is
      // at-least-once) replaces its census instead of appending a second
      // copy — duplicated census rows would be silently SUMMED by the
      // cell-wise merge downstream, shifting CUSUM means and thresholds.
      // Readers see a hive-partitioned table; the merge keys on
      // (event_type, hr) and never reads batch_id.
      batch
        .groupBy(col("event_type"),
          (unix_micros(col("ts")) / lit(3600000000L)).cast("long").as("hr"))
        .agg(count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")
    }
}

/** transformWithState processor backing [[EventsStream.userRunningCountsTws]]:
  * per-user (count, last-seen-µs) in one ValueState; an event-time timer at
  * last-seen + idle horizon evicts the idle user and emits the final tally
  * with evicted = true. Top-level class (not an anonymous closure) so task
  * serialization ships only the timeout constant, and timers are cleared
  * before re-registration — TWS timers are a SET, not MGWS's single slot,
  * and a stale earlier timer would fire a premature eviction.
  */
class RunningCountProcessor(idleTimeoutMs: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, java.sql.Timestamp), (Long, Long, Long, Boolean)] {
  import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}

  @transient private var state: ValueState[(Long, Long)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[(Long, Long)](
      "counts", org.apache.spark.sql.Encoders.product[(Long, Long)], TTLConfig.NONE)

  override def handleInputRows(
      user: Long,
      rows: Iterator[(Long, java.sql.Timestamp)],
      timers: TimerValues): Iterator[(Long, Long, Long, Boolean)] = {
    val (n0, last0) = if (state.exists()) state.get() else (0L, Long.MinValue)
    var n = n0
    var last = last0
    rows.foreach { case (_, t) =>
      n += 1
      val us = t.getTime / 1000L * 1000000L + t.getNanos / 1000L
      if (us > last) last = us
    }
    state.update((n, last))
    // replace, don't accumulate: delete any timer from earlier batches,
    // then arm the idle-eviction timer above the current watermark (the
    // userRunningCounts discipline — an already-expired timestamp is moot)
    getHandle.listTimers().foreach(getHandle.deleteTimer)
    getHandle.registerTimer(
      math.max(timers.getCurrentWatermarkInMs + 1, last / 1000 + idleTimeoutMs))
    Iterator((user, n, last, false))
  }

  override def handleExpiredTimer(
      user: Long,
      timers: TimerValues,
      info: ExpiredTimerInfo): Iterator[(Long, Long, Long, Boolean)] = {
    val (n, last) = state.get()
    state.clear()
    Iterator((user, n, last, true))
  }
}
