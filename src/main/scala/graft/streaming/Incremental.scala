package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, Trigger}
import graft.pipeline.Medallion

/** Structured-Streaming expression of the reference's incremental-daily
  * pattern (SURVEY.md §2.9): the timer-triggered collect-then-load
  * (/root/reference/azure-functions/function_app.py:540-587, cron
  * `0 0 6 * * *`) becomes a file-source stream over the date-partitioned
  * raw layout with `Trigger.AvailableNow` — each activation drains exactly
  * the new files (checkpointed, exactly-once per file) and runs the same
  * batch staging append via foreachBatch. Scheduling stays outside the
  * engine, exactly like the reference's cron.
  *
  * At 100 TB/day this is the production shape: the file source lists only
  * unprocessed files (no full-directory rescans with a maxFilesPerTrigger
  * cap), foreachBatch reuses the batch writers, and the downstream medallion
  * stages stay incremental because staging only ever holds the new batch.
  */
object Incremental {

  /** The streaming events source every gated streaming query reads:
    * schema from a batch peek, listing-time file pruning, and (unless
    * `withTs = false` — for key-only consumers like the arbitrary-state
    * query) the nanos→timestamp conversion. ONE definition: the ts unit /
    * glob / schema contract can't silently fork across the six drains. */
  private def eventsStream(spark: SparkSession, sfDir: String,
      withTs: Boolean = true): DataFrame = {
    val schema = spark.read
      .option("pathGlobFilter", "events.parquet").parquet(sfDir).schema
    val src = spark.readStream
      .schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
    if (withTs) graft.engine.Tables.normalizeTs(src)
    else src
  }

  /** AvailableNow drain into a uniquely-named in-memory sink; returns the
    * drained table. The run-unique name keeps repeated bench/verify
    * invocations from colliding in the shared session catalog. */
  private def drainToTable(df: DataFrame, mode: String, prefix: String): DataFrame = {
    val sinkName = prefix + "_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val query = df.writeStream
      .outputMode(mode)
      .format("memory")
      .queryName(sinkName)
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination()
    df.sparkSession.table(sinkName)
  }

  /** Runs `body` with `spark.sql.shuffle.partitions` = `n`, restoring the
    * session default after. Stateful streaming drains size partitions to
    * their STATE budget, not the CPU count: every state store pays a
    * per-partition delta-file commit + fsync each micro-batch (including
    * the no-data watermark-finalize batch), so at the horizon-bounded
    * state sizes here (≤ tens of thousands of rows) store-count overhead
    * dominates long before compute parallelism matters. The count is
    * frozen into a checkpoint at first run in production, which is exactly
    * why it must be chosen from state volume up front — profiled on the
    * real join plan (2 h horizon, r16): 32 stores
    * (8 partitions × 4 stores/partition) ≈ 2.9-3.2 s warm, 8 stores
    * ≈ 2.4-2.7 s, same answer. Batch queries in the same session keep the
    * session default. */
  private def withDrainParts[T](spark: SparkSession, n: Int)(body: => T): T =
    graft.engine.Conf.withShufflePartitions(spark, n)(body)

  /** Streaming staging load: drains new videos_* JSON files into the
    * medallion staging table and returns when caught up. Re-running with an
    * unchanged raw dir appends nothing (checkpoint = processed-file log). */
  def stagingLoad(spark: SparkSession, rawDir: String, warehouse: String,
      checkpoint: String): Unit = {
    val stream = spark.readStream
      .schema(Medallion.videoSchema)
      .option("multiLine", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(s"$rawDir/*/*/*/videos_*.json")
      .withColumn("file_name",
        regexp_extract(input_file_name(), "([^/]+)$", 1))
      .withColumn("collected_date", regexp_replace(
        regexp_extract(input_file_name(), "raw/(\\d{4}/\\d{2}/\\d{2})/", 1),
        "/", "-"))
    val query = stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").parquet(s"$warehouse/staging/videos")
      }
      .start()
    query.awaitTermination()
  }

  /** `q_streaming_window`: the oracle-gated streaming entry — every other
    * capability sits behind the driver's DuckDB hash gate, so streaming
    * does too. An AvailableNow file-source drain of the events table runs
    * through a watermarked tumbling-window aggregate into a memory sink;
    * the finished table comes back as a batch frame. Output mode is
    * `complete`, so after the drain the sink holds exactly the all-data
    * windowed rollup — semantically the batch twin `q_time_window`
    * (graft.operators.Stats.timeWindowQ), whose SQL is this query's oracle.
    *
    * At scale this is the incremental-daily production shape (see the
    * object Scaladoc): the file source lists only unprocessed files per
    * activation, and a real deployment would run append mode over a
    * checkpointed sink table; complete-mode-to-memory is the bounded test
    * harness for the same plan (streaming aggregation state lives per
    * (window, event_type) group — tiny — not per row). */
  def streamingWindowQ(spark: SparkSession, sfDir: String): DataFrame =
    withDrainParts(spark, 4) {
    val agg = eventsStream(spark, sfDir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"),
        s"${graft.operators.Stats.WindowHours} hours"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value")).cast("long")).as("sum_floor_value"))
    drainToTable(agg, "complete", "graft_stream_win")
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        date_format(col("window.end"), "yyyy-MM-dd HH:mm:ss").as("win_end"),
        col("event_type"), col("n_events"), col("sum_floor_value"))
      .orderBy(col("win_start"), col("event_type"))
    }

  /** `q_streaming_dedup`: oracle-gated streaming dedup — the second
    * streaming entry behind the DuckDB hash gate (same AvailableNow →
    * memory-sink pattern as q_streaming_window). The event stream is
    * projected to its dedup key FIRST (every surviving row is then
    * identical for its key, so WHICH physical row wins the arrival race is
    * immaterial — the emitted set is deterministic), watermarked, and
    * deduped with `dropDuplicatesWithinWatermark`; the append-mode memory
    * sink accumulates exactly the distinct key set, which is the batch
    * first-write-wins anti-join's key set — so the oracle is plain
    * `SELECT DISTINCT`.
    *
    * At scale this is the bounded-state production shape: per-key state
    * lives only within the watermark horizon (the batch dedup's "all
    * history" becomes "horizon", with cross-horizon exactness falling back
    * to the served-layer anti-join, exactly like Medallion.loadFacts). The
    * key-only projection is also what you'd ship: dedup state stores the
    * key, not the payload. */
  def streamingDedupQ(spark: SparkSession, sfDir: String): DataFrame =
    withDrainParts(spark, 4) {
    val deduped = streamingDedup(eventsStream(spark, sfDir)
      .select(col("ts"), col("user_id"), col("event_type")),
      Seq("user_id", "event_type"))
    drainToTable(deduped, "append", "graft_stream_dedup")
      .select(col("user_id"), col("event_type"))
      .orderBy(col("user_id"), col("event_type"))
    }

  val streamingDedupOracle: String =
    """SELECT DISTINCT user_id, event_type FROM events
      |ORDER BY user_id, event_type""".stripMargin

  /** Streaming exact dedup — the streaming twin of X1/J3 first-write-wins:
    * only the first occurrence of each key within the watermark horizon is
    * emitted; state for keys older than the watermark is evicted, which is
    * the only way a dedup operator's state stays bounded on an unbounded
    * stream (the batch dedup's "all history" becomes "watermark horizon" —
    * the standard trade; cross-horizon exactness falls back to the batch
    * anti-join against the served layer, exactly like Medallion.loadFacts). */
  def streamingDedup(events: DataFrame, keys: Seq[String],
      watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  final case class UserEvent(user_id: Long, event_type: String)
  final case class UserCount(user_id: Long, n_events: Long)

  /** `q_streaming_state`: oracle-gated custom streaming state — the third
    * streaming entry behind the DuckDB hash gate, covering the one
    * streaming capability the window/dedup entries don't:
    * `mapGroupsWithState` (arbitrary per-key state that survives across
    * micro-batches). An AvailableNow drain runs the event stream through
    * `runningUserCounts`; update mode emits each key's running total once
    * per micro-batch it appears in, and the memory sink accumulates those
    * emissions. The counter is monotone, so `max(n_events)` per user is the
    * FINAL state no matter how the file source split the drain into
    * batches — which makes the batch `GROUP BY user_id COUNT(*)` the exact
    * oracle, independent of micro-batch boundaries.
    *
    * At scale this is the production shape for streaming featurization /
    * seen-set state: state is one long per key in the state store,
    * partitioned by key, and each micro-batch touches only the keys it
    * contains. */
  def streamingStateQ(spark: SparkSession, sfDir: String): DataFrame =
    withDrainParts(spark, 4) {
    import spark.implicits._
    val src = eventsStream(spark, sfDir, withTs = false)
      .select(col("user_id"), col("event_type"))
      .as[UserEvent]
    drainToTable(runningUserCounts(src).toDF, "update", "graft_stream_state")
      .groupBy(col("user_id"))
      .agg(max(col("n_events")).as("n_events"))
      .orderBy(col("user_id"))
    }

  val streamingStateOracle: String =
    """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Attribution horizon for the stream-stream join (µs). */
  val JoinHorizonMicros: Long = 2L * 3600 * 1000000

  /** `q_streaming_join`: oracle-gated STREAM-STREAM inner join — the fourth
    * streaming entry behind the DuckDB hash gate, covering the last major
    * streaming capability (joins). The classic attribution shape: each
    * `purchase` event matches the same user's `view` events from the
    * preceding JoinHorizonMicros — an equi-join on user_id plus an
    * event-time range condition, with watermarks on BOTH sides so the join
    * state (buffered unmatched rows) is evicted once the other side's
    * watermark passes the horizon. That bounded buffer is the whole point
    * at scale: an unbounded stream join without the time constraint would
    * hold both streams forever; with it, state is one horizon's worth of
    * rows per side, partitioned by key.
    *
    * Inner-join append output emits each matched pair exactly once, so the
    * drained sink holds precisely the batch range-join's row set —
    * micro-batch boundaries can delay but never change matches — making
    * the batch SQL (same µs arithmetic) the exact oracle. */
  def streamingJoinQ(spark: SparkSession, sfDir: String): DataFrame =
    // A symmetric stream-stream join keeps FOUR state stores per shuffle
    // partition (key-to-count + key-with-index-to-value per side), the
    // highest store multiplier of any drain here — 2 partitions = 8
    // stores for ~40 k state rows (see withDrainParts).
    withDrainParts(spark, 2)(streamingJoinDrain(spark, sfDir))

  /** The join's streaming plan pre-drain. */
  private def streamingJoinPlan(spark: SparkSession, sfDir: String): DataFrame = {
    def src = eventsStream(spark, sfDir)
    val views = src.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", "1 hour")
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "1 hour")
    views.join(purchases,
      col("v_user") === col("p_user") &&
        col("purchase_ts") >= col("view_ts") &&
        col("purchase_ts") <= col("view_ts") + expr(
          s"interval ${JoinHorizonMicros / 1000000} seconds"))
  }

  private def streamingJoinDrain(spark: SparkSession, sfDir: String): DataFrame =
    drainToTable(streamingJoinPlan(spark, sfDir), "append", "graft_stream_join")
      .select(col("v_user").as("user_id"), col("view_id"), col("purchase_id"))
      .orderBy(col("user_id"), col("view_id"), col("purchase_id"))

  val streamingJoinOracle: String =
    s"""SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id
       |FROM events v JOIN events p
       |  ON v.user_id = p.user_id
       | AND v.event_type = 'view' AND p.event_type = 'purchase'
       | AND epoch_us(p.ts) >= epoch_us(v.ts)
       | AND epoch_us(p.ts) <= epoch_us(v.ts) + ${JoinHorizonMicros}
       |ORDER BY v.user_id, view_id, purchase_id""".stripMargin

  /** Margin subtracted from the provable-expiry cutoff so a boundary-
    * equal row can never differ between the engines on strict-vs-
    * inclusive eviction semantics. */
  val LeftJoinSafetyMicros: Long = 1000000L

  /** Watermark delay shared by both sides of the outer join (micros). */
  val LeftJoinWatermarkMicros: Long = 3600L * 1000000

  /** `q_streaming_left_join` (X233): stream-stream LEFT OUTER join —
    * the semantics X63's inner join cannot express: "every view, with
    * its conversion IF one arrived in the horizon, and a definitive
    * no-conversion row otherwise". The hard part is WHEN the engine may
    * emit the null row: only once the joint watermark proves no
    * matching purchase can still arrive (view_ts + horizon behind the
    * watermark) — the state-eviction contract that distinguishes a real
    * streaming outer join from an inner join with a batch left-join
    * bolted on. The drain's final no-data micro-batch advances the
    * watermark to max(ts) − delay and flushes exactly the provably-
    * unmatched views.
    *
    * Gate discipline: rows whose expiry the final watermark does NOT
    * dominate (views younger than max_ts − delay − horizon) are still
    * held in state when an AvailableNow drain finishes — emitting them
    * would be a LIE (a purchase could still arrive), so the gated
    * output restricts BOTH engines to the provably-final region, with
    * the cutoff computed from the same max(ts) aggregate on each side
    * (minus a 1 s safety margin so strict-vs-inclusive eviction edges
    * cannot flip a row). Unmatched rows carry a −1 sentinel, not NULL —
    * the cross-engine compare stays integer-typed.
    *
    * Scale shape: identical state layout to X63 (four stores per
    * partition, horizon-bounded state), plus the left side holding
    * unmatched candidates until expiry — the state bound is
    * (horizon + delay) of traffic per side, independent of corpus
    * length; the output filter is a post-drain narrow predicate. */
  def streamingLeftJoinQ(spark: SparkSession, sfDir: String): DataFrame =
    withDrainParts(spark, 2) {
      def src = eventsStream(spark, sfDir)
      val views = src.filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
          col("ts").as("view_ts"))
        .withWatermark("view_ts", "1 hour")
      val purchases = src.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"),
          col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
        .withWatermark("purchase_ts", "1 hour")
      val joined = views.join(purchases,
        col("v_user") === col("p_user") &&
          col("purchase_ts") >= col("view_ts") &&
          col("purchase_ts") <= col("view_ts") + expr(
            s"interval ${JoinHorizonMicros / 1000000} seconds"),
        "left_outer")
      val drained = drainToTable(joined, "append", "graft_stream_ljoin")
      val maxUs = graft.engine.Tables.events(spark, sfDir)
        .agg(max(unix_micros(col("ts")))).head().getLong(0)
      val cutoff =
        maxUs - LeftJoinWatermarkMicros - JoinHorizonMicros -
          LeftJoinSafetyMicros
      drained.filter(unix_micros(col("view_ts")) <= cutoff)
        .select(col("v_user").as("user_id"), col("view_id"),
          coalesce(col("purchase_id"), lit(-1L)).as("purchase_id"))
        .orderBy(col("user_id"), col("view_id"), col("purchase_id"))
    }

  val streamingLeftJoinOracle: String =
    s"""WITH mx AS (SELECT MAX(epoch_us(ts)) AS m FROM events),
       |v AS (SELECT user_id, event_id AS view_id, ts FROM events
       |      WHERE event_type = 'view'),
       |p AS (SELECT user_id, event_id AS purchase_id, ts FROM events
       |      WHERE event_type = 'purchase')
       |SELECT v.user_id, v.view_id,
       |  COALESCE(p.purchase_id, -1) AS purchase_id
       |FROM v
       |JOIN mx ON epoch_us(v.ts) <=
       |  mx.m - ${LeftJoinWatermarkMicros} - ${JoinHorizonMicros}
       |       - ${LeftJoinSafetyMicros}
       |LEFT JOIN p ON v.user_id = p.user_id
       |  AND epoch_us(p.ts) >= epoch_us(v.ts)
       |  AND epoch_us(p.ts) <= epoch_us(v.ts) + ${JoinHorizonMicros}
       |ORDER BY v.user_id, v.view_id, purchase_id""".stripMargin

  /** Custom streaming state via KeyValueGroupedDataset.mapGroupsWithState:
    * a running per-user event counter that survives across micro-batches —
    * the building block the reference's "dedup across days" would use in a
    * streaming re-expression (state = seen-set / counters per key). */
  def runningUserCounts(events: Dataset[UserEvent]): Dataset[UserCount] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[Long, UserCount](GroupStateTimeout.NoTimeout) {
        (user: Long, batch: Iterator[UserEvent], state: GroupState[Long]) =>
          val total = state.getOption.getOrElse(0L) + batch.size
          state.update(total)
          UserCount(user, total)
      }
  }

  /** Backfill boundary: history strictly before this date is served by the
    * batch path, the tail from it onward by the streaming path. */
  val BackfillCutoff = "2024-01-20"

  /** `q_stream_backfill`: the kappa/lambda unification — one report served
    * from BATCH history (days < cutoff) merged with a STREAMING drain of
    * the tail (days ≥ cutoff), proving the two paths compose into exactly
    * the all-data batch answer (the oracle is the plain SQL over
    * everything). This is how a production pipeline bootstraps a streaming
    * job: backfill the past with the batch engine, stream from the
    * cutoff, and MERGE PARTIAL AGGREGATES — counts and sums re-aggregate
    * by key, the algebraic-merge property that also powers X62's sketch
    * rollup.
    *
    * Plan: batch leg is a filtered two-phase aggregate; streaming leg
    * drains AvailableNow through a complete-mode grouped aggregate
    * (partials per micro-batch merged by the state store — same algebra);
    * the union re-aggregates a 2×|types| frame. The filters on both legs
    * sit at the scans. */
  def streamBackfillQ(spark: SparkSession, sfDir: String): DataFrame = {
    withDrainParts(spark, 4) {
    val cut = lit(BackfillCutoff).cast("date")
    val batch = graft.engine.Tables.events(spark, sfDir)
      .filter(to_date(col("ts")) < cut)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value")).cast("long")).as("sum_v"))
    val tail = eventsStream(spark, sfDir)
      .filter(to_date(col("ts")) >= cut)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value")).cast("long")).as("sum_v"))
    batch.unionByName(drainToTable(tail, "complete", "graft_backfill"))
      .groupBy(col("event_type"))
      .agg(sum(col("n")).as("n_events"),
        sum(col("sum_v")).as("sum_floor_value"))
      .orderBy(col("event_type"))
    }
  }

  val streamBackfillOracle: String =
    """SELECT event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(floor(value) AS BIGINT)) AS BIGINT) AS sum_floor_value
      |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin

  /** `q_streaming_sessions`: native SESSION WINDOWS — the streaming twin of
    * X5's gap sessionization via `session_window`, Spark's merging-window
    * state machine (sessions extend while consecutive events arrive within
    * the gap, windows merge as micro-batches fill holes; state per open
    * session, evicted once the watermark passes the session end). The gap
    * equals X5's GapMicros, so the emitted (user, session) set is exactly
    * the batch two-window idiom's — which is the DuckDB oracle. Boundaries
    * are reported as min/max EVENT time (not the window struct's
    * gap-padded end) so batch and stream state the same session.
    *
    * Exact-gap edge, verified against Spark 4.1.2's
    * UpdatingSessionsIterator: the merge condition is
    * `newSessionStart <= currentSessionEnd`, so two events exactly
    * GapMicros apart MERGE into one session — the same `> gap` split rule
    * as X5's batch sessionizer, and the oracle below uses `>` to match.
    *
    * Complete-mode note: the AvailableNow → complete-mode → memory-sink
    * drain is the bounded TEST harness (complete mode retains and re-emits
    * all session state, so the watermark does not evict here); a
    * production deployment runs append mode over a checkpointed sink,
    * where closed sessions emit once and state IS watermark-evicted. */
  def streamingSessionsQ(spark: SparkSession, sfDir: String): DataFrame =
    withDrainParts(spark, 4) {
    val gapExpr = s"${graft.operators.Sessionize.GapMicros} microseconds"
    // NO watermark: the session restore operator drops watermark-late rows
    // even in complete mode (SessionWindowStateStoreRestoreExec filters
    // late events unconditionally), so on a multi-micro-batch drain a
    // watermark could silently lose batch-2 events older than batch-1's
    // max ts. Complete mode retains all state anyway; the watermark bought
    // nothing here and carried a data-loss trap.
    val sessions = eventsStream(spark, sfDir)
      .groupBy(col("user_id"), session_window(col("ts"), gapExpr))
      .agg(
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_start"),
        date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_end"),
        count(lit(1)).as("n_events"))
    drainToTable(sessions, "complete", "graft_stream_sess")
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"))
      .orderBy(col("user_id"), col("session_start"))
    }

  val streamingSessionsOracle: String =
    s"""WITH marked AS (
       |  SELECT user_id, ts, event_id,
       |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
       |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
       |              > ${graft.operators.Sessionize.GapMicros}
       |         THEN 1 ELSE 0 END AS is_new
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       |), numbered AS (
       |  SELECT user_id, ts,
       |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |                      ROWS UNBOUNDED PRECEDING) AS session_id
       |  FROM marked)
       |SELECT user_id,
       |  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
       |  strftime(MAX(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_end,
       |  COUNT(*) AS n_events
       |FROM numbered
       |GROUP BY user_id, session_id
       |ORDER BY user_id, session_start""".stripMargin

  /** `q_streaming_enrich`: STREAM-STATIC enrichment — the eighth streaming
    * shape and the most common production one: each micro-batch of the
    * event stream joins a static dimension (customer→nation, synthetic FK
    * `user_id % |customer| + 1` since the harness tables share no key) via
    * a per-batch BROADCAST hash join, and the enriched append-mode sink
    * rolls up per nation. Stateless: no watermarks, no state stores — the
    * dimension is resolved at micro-batch planning time, which is exactly
    * why production caches the dim table (it would otherwise re-read per
    * batch; at 100 TB/day the dim broadcast is the only non-stream data
    * movement). The rollup runs as a BATCH aggregate over the drained
    * sink, mirroring the reference's stage separation. */
  def streamingEnrichQ(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.engine.{Num, Tables}
    val cust = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_nationkey"))
    // synthetic-FK modulus: one metadata-scale scalar, same precedent as
    // the sink fixture's max-year (never data rows to the driver)
    val nCust = cust.count()
    val dim = cust.join(
        broadcast(Tables.nation(spark, sfDir)
          .select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name"))
    val src = eventsStream(spark, sfDir, withTs = false)
      .select(col("event_id"), col("user_id"))
      .withColumn("fk", pmod(col("user_id"), lit(nCust)) + 1)
    val joined = src.join(broadcast(dim), col("fk") === col("c_custkey"))
      .select(col("event_id"), col("user_id"), col("n_name"))
    drainToTable(joined, "append", "graft_stream_enrich")
      .groupBy(col("n_name").as("nation"))
      .agg(Num.countStar.as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("nation"))
  }

  val streamingEnrichOracle: String =
    """SELECT n.n_name AS nation, COUNT(*) AS n_events,
      |  CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
      |FROM events e
      |JOIN customer c
      |  ON c.c_custkey = (e.user_id % (SELECT COUNT(*) FROM customer)) + 1
      |JOIN nation n ON n.n_nationkey = c.c_nationkey
      |GROUP BY 1 ORDER BY nation""".stripMargin

  /** `q_stream_upsert`: streaming MERGE upsert — the CDC-apply production
    * shape missing from the append-only drains: each micro-batch folds
    * into a keyed SERVED table by MERGE (new keys insert, existing keys
    * update) through `foreachBatch` + the J2 full-outer/coalesce writer.
    * The served table is bootstrapped from the batch engine (history
    * before the X82 cutoff), so the merge branch genuinely exercises —
    * the stream leg's first batch merges into a non-empty table rather
    * than degenerating to an insert.
    *
    * The per-key merge algebra is ASSOCIATIVE — counts add, "latest"
    * resolves by max over the (ts, event_id, type) struct (event_id
    * breaks ts ties, so the third field never decides) — which makes the
    * final table independent of micro-batch boundaries, and the plain
    * batch GROUP BY over all events the exact oracle.
    *
    * At scale the served table is the production asset (the thing a
    * feature store serves); each activation rewrites it key-merged through
    * [[graft.engine.TableCommit]] — write a new snapshot batch, adopt it
    * with an atomic manifest rename, retire the predecessor — so a crash
    * mid-activation leaves the previous generation serving. */
  /** Per-batch partial of the upsert's merge algebra: per key, the event
    * count and the max (ts, event_id, type) struct (event_id breaks ts
    * ties; the type field never decides). */
  private[graft] def upsertKeyAgg(df: DataFrame): DataFrame = df
    .groupBy(col("user_id"))
    .agg(count(lit(1)).as("n_events"),
      max(struct(col("ts"), col("event_id"), col("event_type"))).as("last"))

  /** One MERGE step of the upsert: fold a batch partial into the served
    * table. Associative and commutative (counts add, latest = struct
    * greatest), so any batch split folds to the same table —
    * StreamingSpec pins this against the single-batch answer. */
  private[graft] def upsertMerge(served: DataFrame, upd: DataFrame): DataFrame =
    served.as("t").join(upd.as("u"), Seq("user_id"), "full_outer")
      .select(col("user_id"),
        (coalesce(col("t.n_events"), lit(0L)) +
          coalesce(col("u.n_events"), lit(0L))).as("n_events"),
        greatest(col("t.last"), col("u.last")).as("last"))

  def streamUpsertQ(spark: SparkSession, sfDir: String): DataFrame =
    withDrainParts(spark, 4) {
    val cutoff = lit(BackfillCutoff).cast("date")
    val base = new java.io.File(
      sys.props("java.io.tmpdir"),
      s"graft_upsert_${graft.engine.Tables.sfTag(sfDir)}_" +
        java.lang.ProcessHandle.current().pid()).getAbsolutePath
    // per-sf AND per-process table root (PID-suffixed: two JVMs benching
    // the same sf must not retire each other's live generations), wiped up
    // front (a rerun in THIS process must not accumulate the previous
    // run's final generation — the ADVICE fixture-leak class) and deleted
    // again at JVM exit so the final generation can't outlive the process
    graft.engine.TempWarehouse.deleteRecursively(java.nio.file.Paths.get(base))
    graft.engine.TempWarehouse.manageExisting(base)
    // bootstrap: batch history strictly before the cutoff → version 1
    graft.engine.TableCommit.commitOverwrite(
      upsertKeyAgg(graft.engine.Tables.events(spark, sfDir)
        .filter(to_date(col("ts")) < cutoff)), base)
    val q = eventsStream(spark, sfDir)
      .filter(to_date(col("ts")) >= cutoff)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .writeStream
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val sp = batch.sparkSession
        val served = graft.engine.TableCommit.readCurrent(sp, base)
        // MERGE-apply = overwrite commit of the folded successor: stage,
        // atomic adopt, predecessor retired by the commit itself.
        graft.engine.TableCommit.commitOverwrite(
          upsertMerge(served, upsertKeyAgg(batch)), base)
        ()
      }
      .start()
    q.awaitTermination()
    graft.engine.TableCommit.readCurrent(spark, base)
      .select(col("user_id"), col("n_events"),
        col("last.ts").as("last_ts"),
        col("last.event_id").as("last_event_id"),
        col("last.event_type").as("last_type"))
      .orderBy(col("user_id"))
  }

  val streamUpsertOracle: String =
    """WITH ranked AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY ts DESC, event_id DESC) AS rn,
      |    COUNT(*) OVER (PARTITION BY user_id) AS n
      |  FROM events)
      |SELECT user_id, CAST(n AS BIGINT) AS n_events, ts AS last_ts,
      |  event_id AS last_event_id, event_type AS last_type
      |FROM ranked WHERE rn = 1 ORDER BY user_id""".stripMargin

  /** `q_stream_sink` (X271): EXACTLY-ONCE streaming append into the
    * commit log via `foreachBatch` + [[graft.engine.TableCommit
    * .commitAppend]]`(txnId = …)` — the batch id rides the SAME atomic manifest
    * publish as the data (a `{"txn": id}` header), so the classic
    * foreachBatch failure ("Spark replays a batch the sink already
    * committed, the table double-counts") cannot happen: there is no
    * separate progress ledger whose update could race a crash. The
    * gate PROVES the replay path: after the drain it re-applies batch
    * id 0 carrying the WHOLE corpus — if the high-water check failed,
    * every aggregate doubles and the hash breaks. Crash-restart
    * replays are additionally spec-pinned in StreamingSpec.
    *
    * Scale: the sink work per trigger is batch-sized (stage + one
    * manifest link); the idempotence check reads one manifest header.
    * This is the Delta txnAppId/txnVersion pattern as an engine
    * primitive. */
  def streamSinkQ(spark: SparkSession, sfDir: String): DataFrame =
    withDrainParts(spark, 4) {
    val root = graft.engine.TempWarehouse.createManaged("graft_ssink_") +
      "/t"
    def proj(df: DataFrame): DataFrame =
      df.select(col("user_id"), col("event_id"), col("event_type"))
    val q = eventsStream(spark, sfDir, withTs = false)
      .transform(proj)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        graft.engine.TableCommit.commitAppend(batch, root,
          txnId = Some(id), retain = 4)
        ()
      }
      .start()
    q.awaitTermination()
    // the replay: a crash-restarted stream re-delivers an
    // already-committed batch id — must land ZERO rows
    graft.engine.TableCommit.commitAppend(
      proj(graft.engine.Tables.events(spark, sfDir)), root,
      txnId = Some(0L), retain = 4)
    graft.engine.TableCommit.readCurrent(spark, root)
      .groupBy(col("event_type"))
      .agg(graft.engine.Num.countStar.as("n_rows"),
        sum(col("event_id")).as("id_sum"),
        sum(col("user_id")).as("user_sum"))
      .orderBy(col("event_type"))
  }

  val streamSinkOracle: String =
    """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(event_id) AS BIGINT) AS id_sum,
      |  CAST(SUM(user_id) AS BIGINT) AS user_sum
      |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin

  /** `q_stream_native` (X285): the NATIVE exactly-once streaming sink —
    * `writeStream.format("graft-table")` — the X271 foreachBatch
    * pattern folded into the connector through Spark's V2 streaming
    * two-phase commit: each epoch's task files stage under an
    * epoch-unique directory, the driver publishes them with the epoch
    * id as the `{"txn"}` header (data + progress in ONE atomic manifest
    * link), and a crash-restarted stream's replayed epoch lands zero
    * rows. The gate DRIVES the crash: run 1 commits epoch 0 table-side
    * then dies before Spark acks it (`crashafterepoch`) — the exact
    * double-apply window; run 2 on the same checkpoint must replay
    * epoch 0 as a no-op and finish epoch 1. The rollup hashes the
    * final table: a double-applied epoch doubles half the corpus, a
    * dropped one halves it, either breaks the gate. */
  def streamNativeSinkQ(spark: SparkSession, sfDir: String): DataFrame =
    withDrainParts(spark, 4) {
    val base = graft.engine.TempWarehouse.createManaged("graft_nsink_")
    val root = s"$base/t"; val srcDir = s"$base/src"
    val ckpt = s"$base/ckpt"
    val ev = graft.engine.Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("event_type"))
    // two deterministic slices → two single-file epochs
    (0 to 1).foreach(i => ev
      .filter(pmod(col("event_id"), lit(2L)) === i.toLong)
      .coalesce(1).write.mode("append").parquet(srcDir))
    val schema = spark.read.parquet(srcDir).schema
    def run(crashAfter: Option[Long]): Unit = {
      val w = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
        .writeStream
        .format("graft-table")
        .option("root", root)
        .option("retain", "8")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
      crashAfter.foreach(e => w.option("crashafterepoch", e.toString))
      val q = w.start()
      q.awaitTermination()
    }
    try run(Some(0L))
    catch {
      case _: org.apache.spark.sql.streaming.StreamingQueryException => ()
    }
    run(None) // same checkpoint: replays epoch 0 as a no-op, runs 1
    graft.engine.TableCommit.read(spark, root, schema)
      .groupBy(col("event_type"))
      .agg(graft.engine.Num.countStar.as("n_rows"),
        sum(col("event_id")).as("id_sum"),
        sum(col("user_id")).as("user_sum"))
      .orderBy(col("event_type"))
  }

  val streamNativeSinkOracle: String =
    """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(event_id) AS BIGINT) AS id_sum,
      |  CAST(SUM(user_id) AS BIGINT) AS user_sum
      |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin

  /** `q_stream_replicate` (X287): the LIVE lakehouse mirror — one
    * continuous exactly-once pipeline from table to table:
    * `readStream.format("graft-cdf")` (commit versions as offsets,
    * X267) → `writeStream.format("graft-table")` (epoch ids as txn
    * headers, X285). Exactly-once holds on BOTH ends through a
    * crash: the source's offset log pins which versions each epoch
    * consumed, the sink's txn header makes a replayed epoch land zero
    * rows — so the kill-resume (crash AFTER the mirror committed
    * epoch 0 but BEFORE Spark acked it, the worst window) must leave
    * the mirror an exact copy. X258 is this loop batch-shaped with
    * explicit apply logic; this is the streaming composition with
    * ZERO user-written plumbing — the two connectors carry the whole
    * contract. The gate reads ONLY the mirror: a double-applied epoch,
    * dropped version, or raced offset leaves it detectably wrong
    * against the oracle's re-derivation of the source. */
  def streamReplicateQ(spark: SparkSession, sfDir: String): DataFrame =
    withDrainParts(spark, 4) {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import graft.engine.TableCommit
    val work = graft.engine.TempWarehouse.createManaged("graft_srep_")
    val src = s"$work/src"; val dst = s"$work/dst"
    val ck = s"$work/ck"
    val ev = graft.engine.Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("event_type"))
    (0 to 2).foreach(k => TableCommit.commitAppend(
      ev.filter(pmod(col("event_id"), lit(3L)) === k.toLong), src,
      retain = 8))
    val dataSchema = StructType(Seq(
      StructField("user_id", LongType),
      StructField("event_id", LongType),
      StructField("event_type", StringType)))
    val feedSchema = dataSchema.add("_commit_version", LongType,
      nullable = false)
    def run(crashAfter: Option[Long]): Unit = {
      val w = spark.readStream.format("graft-cdf")
        .schema(feedSchema)
        .option("root", src)
        .option("maxversionspertrigger", "1")
        .load()
        .drop("_commit_version")
        .writeStream
        .format("graft-table")
        .option("root", dst)
        .option("retain", "8")
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
      crashAfter.foreach(e => w.option("crashafterepoch", e.toString))
      val q = w.start()
      q.awaitTermination()
    }
    try run(Some(0L))
    catch {
      case _: org.apache.spark.sql.streaming.StreamingQueryException => ()
    }
    run(None) // replays epoch 0 (zero rows), mirrors versions 2–3
    TableCommit.read(spark, dst, dataSchema)
      .groupBy(col("event_type"))
      .agg(graft.engine.Num.countStar.as("n_rows"),
        sum(col("event_id")).as("id_sum"),
        sum(col("user_id")).as("user_sum"))
      .orderBy(col("event_type"))
  }

  val streamReplicateOracle: String =
    """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(event_id) AS BIGINT) AS id_sum,
      |  CAST(SUM(user_id) AS BIGINT) AS user_sum
      |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin
}
