package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, QueryModule, Tables}

/** Structured Streaming replacements for the reference's manual micro-batch
  * file queue (SURVEY.md §2.5): file discovery → `readStream` file source;
  * move-to-processed commit → checkpointing; daily cadence →
  * `Trigger.AvailableNow()`; cross-run ID dedup → stateful dropDuplicates.
  *
  * Each query runs a real streaming job (file source on the events parquet,
  * AvailableNow, checkpoint dir, memory sink) to completion, then returns
  * the materialized result so the driver's DuckDB oracle can compare against
  * the batch-equivalent SQL. Aggregations use Complete output mode (bounded
  * key space) so no rows are withheld waiting for a watermark that a
  * finite run would never advance past the last event.
  *
  * Session windows (`session_window`) run in BATCH mode: their append-mode
  * streaming output would exclude every session the final watermark hasn't
  * closed, which is exactly the tail of a bounded input — the batch result
  * is the semantics the oracle can check.
  */
/** transformWithState processor (Spark 4 arbitrary-state API v2): running
  * per-user (count, integer-cents sum) in a ValueState. Emits the updated
  * totals for each key touched by a batch; n_events strictly increases per
  * emission, so the final per-user row is max-by-n_events. */
private class UserAggProcessor
  extends org.apache.spark.sql.streaming.StatefulProcessor[
    Long, (Long, Long), (Long, Long, Long)] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
  import org.apache.spark.sql.Encoders

  @transient private var st: ValueState[(Long, Long)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[(Long, Long)]("agg",
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong), TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
      timers: TimerValues): Iterator[(Long, Long, Long)] = {
    var (n, c) = if (st.exists()) st.get() else (0L, 0L)
    rows.foreach { case (_, cents) => n += 1; c += cents }
    st.update((n, c))
    Iterator.single((key, n, c))
  }
}

object Streams extends QueryModule {

  private[graft] def freshCheckpoint(name: String): String = {
    val d = new java.io.File(s"${Tables.scratchRoot}/ckpt_$name")
    // AvailableNow + an old checkpoint would replay "no new files" and
    // leave the memory sink empty — each registered run starts clean.
    Tables.rmTree(d)
    d.mkdirs()
    d.getAbsolutePath
  }

  /** File-source stream over the events parquet (file sources require an
    * explicit schema: the batch schema from Tables' per-table memo, so a
    * stream costs no inference job). The raw file's ts encoding has
    * varied across testdata generations (INT64 nanos vs
    * TIMESTAMP(MICROS)-NTZ — see Tables.normalizeEventTs), so the stream
    * reads the RAW schema and normalizes ts after; watermarks demand a
    * session-tz TIMESTAMP. package-private for the encoding fixture
    * spec. */
  private[graft] def eventStream(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables.rawSchema(s, dir, "events")
    // trailing glob: FileStreamSource only injects a (file-illegal)
    // basePath option when the path is NOT a glob — and our source is a
    // single parquet file, not a directory.
    Tables.normalizeEventTs(
      s.readStream.schema(raw).parquet(s"$dir/events.parquet*"))
  }

  /** Latest-per-user ranking shared by the foreachBatch upsert sink and
    * its cross-batch spec. */
  private[graft] def latestPerKey(df: DataFrame): DataFrame =
    df.withColumn("rn", expr(
        "row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC)"))
      .filter(col("rn") === 1).drop("rn")

  /** One foreachBatch upsert commit: reduce the batch to latest-per-key,
    * merge with snapshot version `version`, write version+1 (never an
    * in-place overwrite). Returns the new version. Late rows older than
    * the snapshot's entry for their key lose the re-rank and are
    * discarded — latest-wins is global across batches. */
  private[graft] def upsertBatch(s: SparkSession, stateRoot: String,
      version: Int, batch: DataFrame): Int = {
    val latest = latestPerKey(batch)
    val merged =
      if (version == 0) latest
      else latestPerKey(
        s.read.parquet(s"$stateRoot/v$version").unionByName(latest))
    merged.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$stateRoot/v${version + 1}")
    version + 1
  }

  /** True when the query's result can depend on the no-data micro-batch
    * that runs after the last data batch only to advance the watermark:
    * an outer join emits its null-extended rows once the watermark
    * passes, an append-mode aggregate emits a window once it closes, and
    * state timeouts and event-time or processing-time timers fire on
    * watermark or clock advance. Inner joins, dropDuplicates and
    * complete/update aggregates emit eagerly in the data batches, so
    * their final batch only evicts state that the run then discards. */
  private def needsFinalWatermarkBatch(df: DataFrame, mode: String): Boolean = {
    import org.apache.spark.sql.catalyst.plans.Inner
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, FlatMapGroupsWithState, Join, TransformWithState}
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TimeMode}
    df.queryExecution.analyzed.exists {
      case j: Join => j.joinType != Inner
      case _: Aggregate => mode == "append"
      case f: FlatMapGroupsWithState => f.timeout != GroupStateTimeout.NoTimeout
      case t: TransformWithState => t.timeMode != TimeMode.None()
      case _ => false
    }
  }

  /** Run a streaming DF to completion into a memory sink, return the table.
    * Two session confs are pinned for the run beside the checkpoint
    * manager ([[LocalCheckpointFileManager.runAvailableNow]]), both
    * derived from the session and the query, never set by a user:
    *
    *  - State partitions: `min(8, defaultParallelism)`. Each state
    *    partition costs per-batch store commits (a stream-stream join
    *    holds 4 stores per partition), and more partitions than task
    *    slots run the state stage in a second wave. The checkpoint is
    *    fresh per run, so the count it freezes never outlives the run.
    *  - No-data micro-batches: off unless [[needsFinalWatermarkBatch]].
    *    With them on, an AvailableNow run ends with one batch that only
    *    advances the watermark; for eagerly emitting queries that batch
    *    changes no output row.
    */
  private def materialize(s: SparkSession, df: DataFrame, name: String,
      mode: String): DataFrame = {
    val pins = Seq("spark.sql.shuffle.partitions" ->
        math.min(8, s.sparkContext.defaultParallelism).toString) ++
      (if (needsFinalWatermarkBatch(df, mode)) Nil
       else Seq("spark.sql.streaming.noDataMicroBatches.enabled" -> "false"))
    try {
      LocalCheckpointFileManager.runAvailableNow(s,
        df.writeStream
          .format("memory")
          .queryName(name)
          .outputMode(mode)
          .option("checkpointLocation", freshCheckpoint(name)),
        pins: _*)
    } finally {
      // Unload every state-store provider the finished run loaded (and
      // its 60s-interval maintenance thread): providers are cached per
      // (checkpoint, operator, partition) ACROSS queries, and a later
      // run of the same query deletes this run's checkpoint dir out
      // from under the still-loaded provider — its maintenance tick
      // then stalls on snapshot/cleanup errors while an unrelated
      // stream is executing (multi-second tail latencies on whichever
      // stream_* query the tick lands on). The next streaming query
      // reloads its providers from scratch, which for AvailableNow
      // runs over fresh checkpoints is work it does anyway.
      org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    }
    // snapshot the sink then DROP the temp view (r17): the memory sink
    // holds every result row on the driver, and across a 272-query run
    // the 14 stream tables would otherwise stay registered (and
    // reachable) for the rest of the JVM. The returned frame is already
    // analyzed — it references the sink directly, so consumers are
    // unaffected and the rows become collectable once the caller is done.
    val out = s.table(name)
    s.catalog.dropTempView(name)
    out
  }

  val all: Seq[Q] = Seq(

    // ---- Str1+Str4+Str5: file source → event-time tumbling window ----
    Q(
      "stream_tumbling_window",
      Some("""
        SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M')
                 AS window_start,
               event_type,
               CAST(count(*) AS BIGINT) AS n,
               round(sum(value), 2) AS total
        FROM events GROUP BY 1, 2 ORDER BY 1, 2"""),
      (s, dir) => {
        val agg = eventStream(s, dir)
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
        materialize(s, agg, "stream_tumbling_window", "complete")
          .select(
            date_format(col("window.start"), "yyyy-MM-dd HH:mm")
              .as("window_start"),
            col("event_type"), col("n"), col("total"))
          .orderBy("window_start", "event_type")
      }),

    // ---- Str5: sliding windows (1h window, 30min slide) ----
    Q(
      "stream_sliding_window",
      // avg derived from an integer-cents sum / count: a double-sum's order
      // differs between engines and round() can straddle a boundary;
      // identical integer numerator + count make the division IEEE-exact.
      Some("""
        SELECT strftime(ws, '%Y-%m-%d %H:%M') AS window_start,
               CAST(count(*) AS BIGINT) AS n,
               sum(CAST(round(value * 100) AS BIGINT)) / 100.0 / count(*)
                 AS avg_value
        FROM (
          SELECT time_bucket(INTERVAL '30 minutes', ts) AS ws, value FROM events
          UNION ALL
          SELECT time_bucket(INTERVAL '30 minutes', ts)
                   - INTERVAL '30 minutes' AS ws, value FROM events)
        GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        val agg = eventStream(s, dir)
          .groupBy(window(col("ts"), "1 hour", "30 minutes"))
          .agg(count(lit(1)).as("n"),
            sum(round(col("value") * 100).cast("long")).as("cents"))
        materialize(s, agg, "stream_sliding_window", "complete")
          .select(
            date_format(col("window.start"), "yyyy-MM-dd HH:mm")
              .as("window_start"),
            col("n"),
            (col("cents") / 100.0 / col("n")).as("avg_value"))
          .orderBy("window_start")
      }),

    // ---- Str2+Str3: stateful dropDuplicates with watermark (the
    // cross-run seen-ID dedup, reference app/bronze.py:50-63) ----
    Q(
      "stream_dedup_state",
      Some("""
        SELECT event_type,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_unique_users
        FROM events GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        val dedup = eventStream(s, dir)
          .withWatermark("ts", "1 day")
          .dropDuplicates("user_id", "event_type")
        materialize(s, dedup, "stream_dedup_state", "append")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_unique_users"))
          .orderBy("event_type")
      }),

    // ---- dropDuplicatesWithinWatermark (the Spark 3.5+ bounded-state
    // dedup): unlike dropDuplicates, key state is EVICTED once the
    // watermark passes eventTime + delay, so state is O(rate × delay)
    // instead of O(distinct keys ever seen) — the form that survives an
    // unbounded stream. Daily-active-users shape: dedup on (user, day).
    // The 40-day delay covers this bounded input's 30-day span, so no
    // state evicts and the result equals the batch distinct the oracle
    // computes; the eviction/re-admit semantics that distinguish the
    // operator are pinned in StreamsSpec with a MemoryStream. ----
    Q(
      "stream_dedup_within_watermark",
      Some("""
        SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
               CAST(count(DISTINCT user_id) AS BIGINT) AS dau
        FROM events GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        val dedup = eventStream(s, dir)
          .withWatermark("ts", "40 days")
          .withColumn("day", to_date(col("ts")))
          .dropDuplicatesWithinWatermark("user_id", "day")
        materialize(s, dedup, "stream_dedup_within_watermark", "append")
          .groupBy("day")
          .agg(count(lit(1)).as("dau"))
          .select(col("day").cast("string").as("day"), col("dau"))
          .orderBy("day")
      }),

    // ---- stream-stream inner join with watermarks on both sides and a
    // time-interval condition (view → purchase attribution within 30
    // minutes). Both watermarks bound the join state: each side buffers
    // only rows newer than (watermark − interval), so state is O(rate ×
    // window), not O(stream). Inner-join results emit eagerly (append
    // mode withholds nothing), so a bounded AvailableNow run equals the
    // batch self-join the oracle computes. ----
    Q(
      "stream_stream_join",
      Some("""
        SELECT v.event_id AS view_id, p.event_id AS purchase_id
        FROM events v JOIN events p
          ON v.user_id = p.user_id
         AND v.event_type = 'view' AND p.event_type = 'purchase'
         AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL '30 minutes'
        ORDER BY 1, 2"""),
      (s, dir) => {
        val views = eventStream(s, dir)
          .filter(col("event_type") === "view")
          .select(col("event_id").as("view_id"),
            col("user_id").as("v_user"), col("ts").as("v_ts"))
          .withWatermark("v_ts", "1 hour")
        val purchases = eventStream(s, dir)
          .filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"),
            col("user_id").as("p_user"), col("ts").as("p_ts"))
          .withWatermark("p_ts", "1 hour")
        val joined = views.join(purchases,
          col("v_user") === col("p_user") &&
            col("p_ts") >= col("v_ts") &&
            col("p_ts") <= col("v_ts") + expr("interval 30 minutes"))
          .select(col("view_id"), col("purchase_id"))
        materialize(s, joined, "stream_stream_join", "append")
          .orderBy("view_id", "purchase_id")
      }),

    // ---- stream-stream LEFT OUTER join: same attribution shape, but
    // views with no purchase in-window ARE emitted (purchase_id NULL).
    // Unlike the inner join, null-extended rows are withheld until the
    // watermark proves no matching purchase can still arrive (watermark >
    // v_ts + 30min), so on a bounded run the trailing views never leave
    // the state store: the final watermark stops 1h short of max event
    // time. Both engines therefore evaluate the join only for views at
    // least 1 DAY older than the newest event — a cutoff safely beyond
    // the 1.5h eviction frontier (at this event rate the younger side's
    // own max is within hours of the global max), making the bounded
    // streaming result exactly the batch left join. State stays O(rate ×
    // window) per side at any scale — same bound as the inner form. ----
    Q(
      "stream_join_left_outer",
      Some("""
        SELECT v.event_id AS view_id, p.event_id AS purchase_id
        FROM events v LEFT JOIN events p
          ON v.user_id = p.user_id AND p.event_type = 'purchase'
         AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL '30 minutes'
        WHERE v.event_type = 'view'
          AND v.ts <= (SELECT max(ts) FROM events) - INTERVAL '1 day'
        ORDER BY 1, 2"""),
      (s, dir) => {
        // bounded input → the cutoff is a one-row agg, not stream state.
        // The 1-day cutoff equals batch semantics only if the final
        // watermark (min over both sides' max event time, minus the 1h
        // delay) clears cutoff + 30min — i.e. each side's own max must
        // be within 22.5h of the global max. That held for every data
        // distribution so far, but a sparse side would silently withhold
        // null-extended rows inside the cutoff, so assert it loudly
        // instead of assuming. Global max and both side maxes come from
        // the SAME single scan (conditional aggregates).
        val bounds = Tables.load(s, dir, "events")
          .agg(max(col("ts")).as("mx"),
            max(when(col("event_type") === "view", col("ts"))).as("vmx"),
            max(when(col("event_type") === "purchase", col("ts"))).as("pmx"))
          .first()
        // null-check each side EXPLICITLY before doing timestamp math:
        // least() skips NULLs, so a side with zero events — the extreme
        // sparse-side case this guard exists for — would silently bypass
        // a least()-based check (and an empty table would NPE on getTime).
        // Collected timestamps arrive as java.sql.Timestamp OR
        // java.time.Instant depending on the session's
        // datetime.java8API.enabled — which a HiveServer2 JDBC session
        // flips to true on the SHARED session under
        // thriftServer.singleSession (EP2_PARITY_r11 finding), so a
        // type-pinned getTimestamp would ClassCastException when this
        // query runs alongside the serve endpoint.
        def epochMs(idx: Int): Option[Long] =
          if (bounds.isNullAt(idx)) None
          else Some(bounds.get(idx) match {
            case t: java.sql.Timestamp => t.getTime
            case t: java.time.Instant  => t.toEpochMilli
            case other => throw new IllegalStateException(
              s"unexpected timestamp class ${other.getClass}")
          })
        val cutoffMs = epochMs(0).getOrElse(
          throw new IllegalArgumentException(
            "stream_join_left_outer: events is empty"))
        val cutoff = new java.sql.Timestamp(cutoffMs)
        val sideMs = Seq(1 -> "view", 2 -> "purchase").map {
          case (idx, side) => epochMs(idx).getOrElse(throw
            new IllegalArgumentException(
              s"stream_join_left_outer: no '$side' events at all — " +
                "that side's watermark lags infinitely; the 1-day " +
                "cutoff cannot reproduce batch left-join semantics"))
        }
        val lagMs = cutoffMs - sideMs.min
        require(lagMs <= 22L * 3600 * 1000 + 1800 * 1000,
          s"stream_join_left_outer: a join side's max event time lags the " +
            s"global max by ${lagMs / 60000} min > 22.5h; the 1-day " +
            "cutoff would withhold null-extended rows still in state — " +
            "widen the cutoff beyond (lag + 1.5h) for this distribution")
        val views = eventStream(s, dir)
          .filter(col("event_type") === "view")
          .select(col("event_id").as("view_id"),
            col("user_id").as("v_user"), col("ts").as("v_ts"))
          .withWatermark("v_ts", "1 hour")
        val purchases = eventStream(s, dir)
          .filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"),
            col("user_id").as("p_user"), col("ts").as("p_ts"))
          .withWatermark("p_ts", "1 hour")
        val joined = views.join(purchases,
          col("v_user") === col("p_user") &&
            col("p_ts") >= col("v_ts") &&
            col("p_ts") <= col("v_ts") + expr("interval 30 minutes"),
          "left_outer")
        materialize(s, joined, "stream_join_left_outer", "append")
          .filter(col("v_ts") <= lit(cutoff) - expr("interval 1 day"))
          .select(col("view_id"), col("purchase_id"))
          .orderBy("view_id", "purchase_id")
      }),

    // ---- multi-source union: two independently-filtered streams (the
    // two-topic ingestion merge — in production, different Kafka topics
    // or file feeds) unioned into one aggregation. Each source keeps its
    // own offset tracking in the shared checkpoint; the union itself is
    // stateless, so the combined stream costs the sum of its sources,
    // no extra state. ----
    Q(
      "stream_union_sources",
      Some("""
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                 AS cents
        FROM events WHERE event_type IN ('view', 'purchase')
        GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        val views = eventStream(s, dir)
          .filter(col("event_type") === "view")
        val purchases = eventStream(s, dir)
          .filter(col("event_type") === "purchase")
        val agg = views.unionByName(purchases)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(round(col("value") * 100).cast("long")).as("cents"))
        materialize(s, agg, "stream_union_sources", "complete")
          .orderBy("event_type")
      }),

    // ---- stream-static join: the enrichment pattern — a streaming fact
    // joined to a bounded static dimension (broadcast per micro-batch,
    // no stream state) before aggregating ----
    Q(
      "stream_static_join_enrich",
      Some("""
        WITH dim AS (SELECT DISTINCT event_type,
                            upper(event_type) AS type_label FROM events)
        SELECT d.type_label, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT)
                 AS cents
        FROM events e JOIN dim d ON e.event_type = d.event_type
        GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        val dim = Tables.load(s, dir, "events")
          .select(col("event_type")).distinct()
          .withColumn("type_label", upper(col("event_type")))
        val enriched = eventStream(s, dir)
          .join(broadcast(dim), "event_type")
          .groupBy("type_label")
          .agg(count(lit(1)).as("n"),
            sum(round(col("value") * 100).cast("long")).as("cents"))
        materialize(s, enriched, "stream_static_join_enrich", "complete")
          .orderBy("type_label")
      }),

    // ---- custom keyed state (flatMapGroupsWithState): per-user running
    // event count held in GroupState — the arbitrary-state surface the
    // built-in windowed aggs can't express (SURVEY §2.5 / brief's
    // mapGroupsWithState mapping). Update mode + AvailableNow emits each
    // user's final count for the bounded input. ----
    Q(
      "stream_stateful_user_counts",
      Some("""
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
        val counts = eventStream(s, dir)
          .select(col("user_id")).as[Long]
          .groupByKey(identity)
          .flatMapGroupsWithState[Long, (Long, Long)](
            OutputMode.Update, GroupStateTimeout.NoTimeout) {
            (user: Long, events: Iterator[Long], state: GroupState[Long]) =>
              val n = state.getOption.getOrElse(0L) + events.size
              state.update(n)
              Iterator((user, n))
          }
          .toDF("user_id", "n_events")
        materialize(s, counts, "stream_stateful_user_counts", "update")
          .groupBy("user_id")
          .agg(max("n_events").as("n_events")) // last update per user wins
          .orderBy("user_id")
      }),

    // ---- transformWithState (the Spark 4 arbitrary-state API v2,
    // superseding map/flatMapGroupsWithState): typed ValueState in the
    // RocksDB state store (the provider the API requires — also the one
    // a 100 TB deployment runs, since its state spills to disk instead
    // of executor heap). Same oracle shape as the v1 queries. ----
    Q(
      "stream_transform_with_state",
      Some("""
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                 AS cents
        FROM events GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
        val key = "spark.sql.streaming.stateStore.providerClass"
        val prev = s.conf.getOption(key)
        s.conf.set(key,
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        try {
          val rows = eventStream(s, dir)
            .select(col("user_id"),
              round(col("value") * 100).cast("long").as("cents"))
            .as[(Long, Long)]
            .groupByKey(_._1)
            .transformWithState(new UserAggProcessor,
              TimeMode.None(), OutputMode.Update())
            .toDF("user_id", "n_events", "cents")
          materialize(s, rows, "stream_transform_with_state", "update")
            // latest emission per user = the one with the highest running
            // count (cents alone isn't monotone: negative values exist)
            .groupBy("user_id")
            .agg(max(struct(col("n_events"), col("cents"))).as("last"))
            .select(col("user_id"), col("last.n_events"), col("last.cents"))
            .orderBy("user_id")
        } finally prev match {
          case Some(v) => s.conf.set(key, v)
          case None => s.conf.unset(key)
        }
      }),

    // ---- mapGroupsWithState (strict one-row-per-group variant of the
    // arbitrary-state surface): latest event per user, state = running
    // (ts, event_id) max with event_id tiebreak so iterator order can't
    // leak into results ----
    Q(
      "stream_last_event_per_user",
      Some("""
        SELECT user_id, CAST(max(eid) AS BIGINT) AS last_event_id
        FROM (SELECT user_id, ts, event_id AS eid,
                     max(ts) OVER (PARTITION BY user_id) AS mx
              FROM events)
        WHERE ts = mx
        GROUP BY user_id ORDER BY user_id"""),
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
        val latest = eventStream(s, dir)
          // unix_micros, not cast-to-long (seconds): sub-second ordering
          // must match the oracle's full-precision timestamp compare
          .select(col("user_id"), unix_micros(col("ts")).as("tsl"),
            col("event_id"))
          .as[(Long, Long, Long)]
          .groupByKey(_._1)
          .mapGroupsWithState[(Long, Long), (Long, Long)](
            GroupStateTimeout.NoTimeout) {
            (user: Long, rows: Iterator[(Long, Long, Long)],
             state: GroupState[(Long, Long)]) =>
              val init = state.getOption.getOrElse((Long.MinValue, Long.MinValue))
              val best = rows.foldLeft(init) { case (acc @ (bt, bid), (_, t, id)) =>
                if (t > bt || (t == bt && id > bid)) (t, id) else acc
              }
              state.update(best)
              (user, best._2)
          }
          .toDF("user_id", "last_event_id")
        materialize(s, latest, "stream_last_event_per_user", "update")
          .groupBy("user_id")
          .agg(max("last_event_id").as("last_event_id"))
          .orderBy("user_id")
      }),

    // ---- Str5: session windows (30-minute gap), batch-mode semantics ----
    Q(
      "session_window_per_user",
      Some("""
        WITH marks AS (
          SELECT user_id, ts,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
                      THEN 1 ELSE 0 END AS new_session
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        sessions AS (
          SELECT user_id, ts,
                 sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING) AS sid
          FROM marks)
        SELECT user_id,
               strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
               CAST(count(*) AS BIGINT) AS n_events
        FROM sessions GROUP BY user_id, sid
        ORDER BY user_id, session_start"""),
      (s, dir) =>
        Tables.load(s, dir, "events")
          .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
          .agg(count(lit(1)).as("n_events"))
          .select(
            col("user_id"),
            date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss")
              .as("session_start"),
            col("n_events"))
          .orderBy("user_id", "session_start")),

    // ---- foreachBatch incremental-upsert sink: each micro-batch is
    // reduced to latest-per-key, merged with the accumulated snapshot
    // (read prev → union → re-rank → write NEXT version dir — never an
    // in-place overwrite), deletes dropped only at read time so a late
    // delete in a later batch still suppresses earlier upserts. The
    // oracle checks the end state against the batch latest-wins CDC
    // semantics. Snapshot versions make each batch commit atomic — the
    // same protocol as sources.Snapshots, driven from a stream. ----
    Q(
      "stream_foreachbatch_upsert",
      Some("""
        WITH c AS (
          SELECT user_id, event_type, value,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts DESC, event_id DESC) AS rn
          FROM events)
        SELECT event_type AS last_op,
               CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                 AS cents
        FROM c WHERE rn = 1 AND event_type <> 'error'
        GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        val stateRoot = freshCheckpoint("fbu_state") // wiped like a ckpt
        // AtomicInteger: the closure runs on the stream-execution thread;
        // the final read happens on the caller thread after termination
        val version = new java.util.concurrent.atomic.AtomicInteger(0)
        LocalCheckpointFileManager.runAvailableNow(s, eventStream(s, dir)
          .select("user_id", "ts", "event_id", "event_type", "value")
          .writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            version.set(upsertBatch(s, stateRoot, version.get, batch))
            ()
          }
          .option("checkpointLocation", freshCheckpoint("fbu")))
        s.read.parquet(s"$stateRoot/v${version.get}")
          .filter(col("event_type") =!= "error")
          .groupBy(col("event_type").as("last_op"))
          .agg(count(lit(1)).as("n_users"),
            sum(round(col("value") * 100).cast("long")).as("cents"))
          .orderBy("last_op")
      })
  )
}
