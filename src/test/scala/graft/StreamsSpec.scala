package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The S12 processed-file commit protocol: the reference moves consumed
  * bronze objects to `processed/` (app/sliver.py:180-187). Structured
  * Streaming's `cleanSource=archive` is the engine-native equivalent —
  * after a file's batch commits, the source archives it.
  */
class StreamsSpec extends SparkSpec {

  test("checkpointed restart: only new files process and dedup state" +
      " survives the stop/start boundary") {
    StreamsSpec.restartScenario(spark, "restart_resume") { w =>
      w.trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
  }

  test("file source with cleanSource=archive moves consumed files (S12)") {
    val base = Paths.get(s"${Tables.scratchRoot}/cleansource")
    val srcDir = base.resolve("incoming")
    val archiveDir = base.resolve("processed")
    val ckpt = base.resolve("ckpt")
    for (d <- Seq(srcDir, archiveDir, ckpt)) Tables.rmTree(d.toFile)
    Files.createDirectories(srcDir)
    Files.copy(Paths.get(s"$sf/events.parquet"),
      srcDir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(s"$sf/events.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("cleanSource", "archive")
      .option("sourceArchiveDir", archiveDir.toString)
      // archive normally waits until files look "cold"; make it immediate
      .option("maxFileAge", "7d")
      .parquet(srcDir.toString)
    // noop sink: the memory sink refuses checkpoint recovery, and the
    // second run (below) must resume from the same checkpoint
    def runOnce(): Unit = {
      val q = stream.writeStream
        .format("noop")
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runOnce()
    // the source cleans batch-N files inside commit(N), which the engine
    // calls when batch N+1 is constructed — drop in a second file so the
    // restart actually runs a new batch
    Files.copy(Paths.get(s"$sf/events.parquet"),
      srcDir.resolve("events_late.parquet"), StandardCopyOption.REPLACE_EXISTING)
    runOnce()

    // archiving runs on the source's maintenance thread after commit —
    // poll briefly rather than assuming it's synchronous
    val deadline = System.currentTimeMillis() + 30000
    def archived: Boolean =
      Files.exists(archiveDir) &&
        Files.walk(archiveDir).anyMatch(p => p.toString.endsWith("events.parquet"))
    def sourceGone: Boolean = !Files.exists(srcDir.resolve("events.parquet"))
    while (!(archived && sourceGone) && System.currentTimeMillis() < deadline) {
      Thread.sleep(500)
    }
    assert(archived, "consumed file was not archived")
    assert(sourceGone, "consumed file still present in source dir")
  }

  test("stateful aggregation carries state across real micro-batches") {
    import org.apache.spark.sql.functions._
    // split events into 4 files and force one file per trigger, so the
    // stateful count genuinely accumulates across batches (a single
    // AvailableNow batch would never exercise state reload/merge)
    val base = Paths.get(s"${Tables.scratchRoot}/multibatch")
    Tables.rmTree(base.toFile)
    val srcDir = base.resolve("src").toString
    val ckpt = base.resolve("ckpt").toString
    val events = Tables.load(spark, sf, "events")
    events.repartition(4).write.parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema

    val counts = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
      .groupBy("event_type").agg(count(lit(1)).as("n"))
    val q = counts.writeStream
      .format("memory").queryName("multibatch_counts")
      .outputMode("complete")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    // several batches must actually have run
    assert(q.lastProgress.batchId >= 3,
      s"expected >=4 micro-batches, got ${q.lastProgress.batchId + 1}")
    // and the accumulated state equals the batch aggregate
    val streamed = spark.table("multibatch_counts")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = events.groupBy("event_type").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed == batch)
  }

  test("watermark drops events later than the allowed lateness") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, String)]
    def ts(minute: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")
    val agg = in.toDF().toDF("ts", "k")
      .withWatermark("ts", "5 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("k"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("late_drop")
      .outputMode("append")
      .option("checkpointLocation", freshCheckpointForTest("late_drop"))
      .start()
    try {
      // batch 1: events in [10:00,10:10) and one at 10:31 that advances
      // the watermark to 10:26 when batch 2 is planned
      in.addData((ts(2), "a"), (ts(5), "a"), (ts(31), "b"))
      q.processAllAvailable()
      // batch 2: a LATE event for the already-closed [10:00,10:10)
      // window — watermark 10:26 > window end 10:10, so it must be
      // dropped, not resurrect the finalized window
      in.addData((ts(7), "a"), (ts(35), "b"))
      q.processAllAvailable()
      // batch 3: push the watermark far enough to close [10:30,10:40)
      in.addData((ts(59), "c"))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("late_drop")
      .select(date_format(col("window.start"), "HH:mm").as("w"),
        col("k"), col("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    // the 10:00 window finalized with the ON-TIME count only
    assert(rows(("10:00", "a")) == 2L,
      s"late event resurrected or inflated a closed window: $rows")
    assert(rows(("10:30", "b")) == 2L, s"on-time events missing: $rows")
  }

  test("dropDuplicatesWithinWatermark evicts key state after the delay") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, Long)]
    def ts(minute: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")
    val dedup = in.toDF().toDF("ts", "user")
      .withWatermark("ts", "5 minutes")
      .dropDuplicatesWithinWatermark("user")
    val q = dedup.writeStream.format("memory").queryName("wm_dedup")
      .outputMode("append")
      .option("checkpointLocation", freshCheckpointForTest("wm_dedup"))
      .start()
    try {
      in.addData((ts(0), 1L)) // user 1 first seen → emitted, state opens
      q.processAllAvailable()
      // a duplicate within the delay window is suppressed
      in.addData((ts(3), 1L))
      q.processAllAvailable()
      // watermark advances to 10:15 (20 − 5) > 10:00 + 5min → user-1
      // state evicts; the SAME user re-emits where plain dropDuplicates
      // (O(keys-ever-seen) state) would still suppress it
      in.addData((ts(20), 2L))
      q.processAllAvailable()
      in.addData((ts(21), 1L))
      q.processAllAvailable()
      val user1 = spark.table("wm_dedup").filter(col("user") === 1).count()
      assert(user1 == 2,
        s"user 1 must re-emit after state eviction (got $user1 rows)")
    } finally q.stop()
  }

  test("transformWithState event-time timers close sessions at watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, Long)]
    def ts(minute: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")
    val sessions = in.toDS().toDF("ts", "user")
      .withWatermark("ts", "1 minute")
      .as[(java.sql.Timestamp, Long)]
      .groupByKey(_._2)
      .transformWithState(new TimerSessionProcessor,
        TimeMode.EventTime(), OutputMode.Append())
      .toDF("user", "n_events")
    // event-time timers use a timer column family — RocksDB provider only
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val q = sessions.writeStream.format("memory").queryName("timer_sessions")
      .outputMode("append")
      .option("checkpointLocation", freshCheckpointForTest("timer_sessions"))
      .start()
    try {
      // user 1's session: two events; timer armed at 10:02 + 10min gap
      in.addData((ts(0), 1L), (ts(2), 1L))
      q.processAllAvailable()
      assert(spark.table("timer_sessions").count() == 0,
        "no session may close before the watermark passes its gap")
      // user 2 at 10:30 pushes the watermark to 10:29 > 10:12 → user 1's
      // timer fires and ONLY that session emits (user 2's gap is open)
      in.addData((ts(30), 2L))
      q.processAllAvailable()
      val rows = spark.table("timer_sessions")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(rows == Set((1L, 2L)),
        s"exactly user 1's 2-event session must close, got $rows")
    } finally {
      q.stop()
      prevProvider match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  private def freshCheckpointForTest(name: String): String =
    streaming.Streams.freshCheckpoint(s"spec_$name")

  test("foreachBatch sink writes each micro-batch transactionally") {
    val base = Paths.get(s"${Tables.scratchRoot}/foreachbatch")
    Tables.rmTree(base.toFile)
    val out = base.resolve("out").toString
    val ckpt = base.resolve("ckpt").toString

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(s"$sf/events.parquet").schema
    val stream = spark.readStream.schema(schema)
      .parquet(s"$sf/events.parquet*")
    val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        batch.select("event_id", "event_type")
          .withColumn("batch_id", org.apache.spark.sql.functions.lit(batchId))
          .write.mode("append").parquet(out)
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val written = spark.read.parquet(out)
    val expected = spark.read.parquet(s"$sf/events.parquet").count()
    assert(written.count() == expected)
    assert(written.columns.toSet == Set("event_id", "event_type", "batch_id"))
  }

  test("foreachBatch upsert merges across batches: latest wins globally," +
    " late older rows lose, deletes suppress at read") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")

    val in = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val df = in.toDF().toDF("user_id", "ts", "event_id", "event_type", "value")
    val stateRoot = freshCheckpointForTest("fbu_state")
    val version = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = df.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        version.set(graft.streaming.Streams.upsertBatch(
          spark, stateRoot, version.get, batch))
        ()
      }
      .option("checkpointLocation", freshCheckpointForTest("fbu"))
      .start()
    try {
      in.addData((1L, ts(10), 1L, "view", 1.0), (2L, ts(10), 2L, "view", 2.0))
      q.processAllAvailable()
      // batch 2: user 1 superseded; user 2 gets a LATE OLDER row (must
      // lose the merge re-rank); user 3 arrives already deleted
      in.addData((1L, ts(20), 3L, "purchase", 5.0),
        (2L, ts(5), 0L, "click", 9.0), (3L, ts(1), 4L, "error", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    assert(version.get == 2, "each micro-batch must commit one snapshot version")
    val state = spark.read.parquet(s"$stateRoot/v${version.get}")
      .filter(col("event_type") =!= "error")
      .collect().map(r => r.getLong(0) -> (r.getString(3), r.getDouble(4))).toMap
    assert(state == Map(1L -> ("purchase", 5.0), 2L -> ("view", 2.0)))
    // snapshot versioning: batch-1 state is still readable (v1 intact)
    val v1 = spark.read.parquet(s"$stateRoot/v1").collect()
    assert(v1.length == 2 && v1.forall(_.getString(3) == "view"))
  }

  test("stream_stream_join ends after its one data batch, " +
      "stream_join_left_outer keeps its final-watermark batch, and both " +
      "equal their batch SQL") {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import StreamingQueryListener._
    // one progress event per executed micro-batch, tagged by query name
    val progressed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: QueryStartedEvent): Unit = ()
      def onQueryProgress(e: QueryProgressEvent): Unit = {
        progressed.add(e.progress.name); ()
      }
      def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    Tables.registerViews(spark, sf)
    spark.streams.addListener(listener)
    try for ((name, batches) <- Seq("stream_stream_join" -> 1,
        "stream_join_left_outer" -> 2)) {
      val got = SparkEntry.queries(name)(spark, sf).collect().toSeq
      org.apache.spark.ListenerDrain(spark.sparkContext)
      val n = progressed.toArray.count(_ == name)
      assert(n == batches, s"$name ran $n micro-batches, want $batches")
      assert(got == spark.sql(SparkEntry.oracleSql(name)).collect().toSeq,
        s"$name differs from its batch SQL")
    } finally spark.streams.removeListener(listener)
  }

  test("stream-stream outer-join state is EVICTED by the watermark: " +
      "state rows track rate x window, not stream length") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(h: Int, m: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val vIn = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val pIn = MemoryStream[(Long, Long, java.sql.Timestamp)]
    // the stream_join_left_outer shape: 1h watermark, 30-min interval
    val joined = vIn.toDF().toDF("view_id", "v_user", "v_ts")
      .withWatermark("v_ts", "1 hour")
      .join(pIn.toDF().toDF("purchase_id", "p_user", "p_ts")
          .withWatermark("p_ts", "1 hour"),
        col("v_user") === col("p_user") &&
          col("p_ts") >= col("v_ts") &&
          col("p_ts") <= col("v_ts") + expr("interval 30 minutes"),
        "left_outer")
    val q = joined.writeStream.format("memory").queryName("evict_probe")
      .outputMode("append")
      .option("checkpointLocation", freshCheckpointForTest("evict_probe"))
      .start()
    // latest batch's join-state row count + cumulative removals, from
    // the progress metrics (what an operator would alert on at scale)
    def stateTotal(): Long = q.recentProgress.toSeq
      .flatMap(_.stateOperators).lastOption.map(_.numRowsTotal)
      .getOrElse(-1L)
    try {
      // batch 1: 40 views at hour 10 (users 1..40), matching purchases
      // for users 1..20 — 60 state rows buffered on both sides
      vIn.addData((1L to 40L).map(u => (u, u, ts(10, (u % 50).toInt))))
      pIn.addData((1L to 20L).map(u => (u + 1000L, u, ts(10, (u % 50).toInt))))
      q.processAllAvailable()
      val afterLoad = stateTotal()
      assert(afterLoad >= 60,
        s"expected both sides buffered while watermark lags, got $afterLoad")
      // batch 2: 10+10 rows at hour 20 → watermark advances to ~19:00,
      // far past hour-10 state + the 30-min interval: ALL batch-1 state
      // must be evicted, and the unmatched hour-10 views must emit
      // null-extended results on the way out
      vIn.addData((101L to 110L).map(u => (u, u, ts(20, 0))))
      pIn.addData((101L to 110L).map(u => (u + 1000L, u, ts(20, 0))))
      q.processAllAvailable()
      val afterEvict = stateTotal()
      assert(afterEvict <= 30,
        s"watermark did not evict hour-10 state: $afterEvict rows " +
          s"(cumulative input = 80; bound should be ~last-batch size)")
      // numRowsRemoved under-counts outer-join eviction (null-extension
      // exits are not all booked as removals) — the quantitative proof
      // is the afterLoad→afterEvict drop above; this only pins that the
      // removal metric is alive for ops dashboards
      val removed = q.recentProgress.toSeq.flatMap(_.stateOperators)
        .map(_.numRowsRemoved).sum
      assert(removed > 0, s"no state removals recorded at all")
    } finally q.stop()
    val out = spark.table("evict_probe")
    // eviction and emission are the same event for the outer join: the
    // 20 unmatched hour-10 views left state as null-extended rows
    val nullExtended = out.filter(col("purchase_id").isNull)
      .select("view_id").as[Long].collect().toSet
    assert(nullExtended == (21L to 40L).toSet,
      s"null-extended rows wrong: $nullExtended")
  }

  test("incremental DSIR AvailableNow parity: a file-source run " +
      "maintaining the additive LM state per micro-batch reproduces " +
      "the batch query's prefix-3 ranking exactly") {
    import org.apache.spark.sql.functions._
    val base = Paths.get(s"${Tables.scratchRoot}/dsir_incr")
    Tables.rmTree(base.toFile)
    // the 3 ingest batches as separate file drops (doc_id % 3 — the
    // same deterministic split the registered query uses)
    val docs = Tables.load(spark, sf, "documents")
      .select("doc_id", "lang", "text")
    for (b <- 0 to 2)
      docs.filter(pmod(col("doc_id"), lit(3)) === b)
        .coalesce(1).write.parquet(s"$base/in/b$b")
    val stateDir = s"$base/state"
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$base/in/*")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // the ONLY thing persisted per micro-batch: the ≤B-row
        // additive partial LM state of that batch's docs
        operators.Curation.dsirFeatureBucketsOf(batch)
          .groupBy("b")
          .agg(count(lit(1)).as("cs"),
            count(when(col("lang") === "en", 1)).as("ct"))
          .write.mode("append").parquet(stateDir)
        batches.incrementAndGet()
        ()
      }
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(batches.get == 3,
      s"expected 3 micro-batches (one per file drop), got ${batches.get}" +
        " — the incremental path was not exercised")
    // merge the checkpointed states by re-aggregation (never rescanning
    // text for the LM), score the full corpus, take the top-10 — this
    // is an INDEPENDENT respelling of the prefix-3 leg of the query
    val lmc = spark.read.parquet(stateDir)
      .groupBy("b").agg(sum("cs").as("cs"), sum("ct").as("ct"))
    val tot = lmc.agg(sum("cs").as("tots"), sum("ct").as("tott"))
    val lm = lmc.crossJoin(broadcast(tot))
      .select(col("b"),
        floor(log(((col("ct") + lit(1.0)) / (col("tott") + lit(1024.0))) /
          ((col("cs") + lit(1.0)) / (col("tots") + lit(1024.0))))
          * 1e6).cast("long").as("lr"))
    val streamed = operators.Curation.dsirFeatureBucketsOf(docs)
      .join(broadcast(lm), "b")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_feats"), sum("lr").as("weight_micro"))
      .orderBy(col("weight_micro").desc, col("doc_id"))
      .limit(10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val batchForm = SparkEntry.queries("curate_dsir_incremental")(spark, sf)
      .filter(col("prefix") === 3)
      .select("doc_id", "n_feats", "weight_micro")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(streamed.toSeq == batchForm.toSeq,
      s"streamed ${streamed.toSeq} != batch ${batchForm.toSeq}")
  }

  /** Batch-global recomputation of the minhash ingest verdicts FROM
    * PERSISTED STATE ONLY: pairs from the band postings, direction from
    * the persisted per-row ingest sequence. The spec's ground truth for
    * every ingest variant — if the incremental run and this disagree,
    * the engine's verdicts are not a function of its own state. */
  private def minhashStateVerdicts(stateRoot: String)
      : org.apache.spark.sql.DataFrame = {
    val post = operators.StateManifest.read(spark, s"$stateRoot/postings").get
      .select(col("doc_id"),
        transform(col("hs"), x => coalesce(x, lit(0L))).as("hs"),
        col("band_id"), col("bkey"),
        transform(col("pre"), x => coalesce(x, lit(0L))).as("pre"),
        col("seq"))
    def akey(seq: org.apache.spark.sql.Column,
        d: org.apache.spark.sql.Column) = seq * lit(1099511627776L) + d
    val jac = operators.Dedup.meetingJaccard
    val pairs = post.as("x")
      .join(post.as("y"),
        col("x.band_id") === col("y.band_id") &&
          col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .filter(operators.Dedup.firstAgreeingBand && jac >= 0.2)
      .select(col("x.doc_id").as("xa"), col("y.doc_id").as("ya"),
        akey(col("x.seq"), col("x.doc_id")).as("ka"),
        akey(col("y.seq"), col("y.doc_id")).as("kb"))
    stateDirected(pairs, post, "doc_id")
  }

  /** Same recomputation for the IVF ingest: pairs from the (vec_id,
    * cell, vec, seq) postings, exact-cosine verify, seq direction. */
  private def ivfStateVerdicts(stateRoot: String)
      : org.apache.spark.sql.DataFrame = {
    import graft.functions.VectorExprs
    val post = operators.StateManifest.read(spark, s"$stateRoot/postings").get
    def akey(seq: org.apache.spark.sql.Column,
        d: org.apache.spark.sql.Column) = seq * lit(1099511627776L) + d
    val cos = VectorExprs.cosine(col("x.vec"), col("y.vec"))
    val pairs = post.as("x")
      .join(post.as("y"),
        col("x.cell") === col("y.cell") &&
          col("x.vec_id") < col("y.vec_id"))
      .filter(round(cos, 6) >= 0.95)
      .select(col("x.vec_id").as("xa"), col("y.vec_id").as("ya"),
        akey(col("x.seq"), col("x.vec_id")).as("ka"),
        akey(col("y.seq"), col("y.vec_id")).as("kb"))
    stateDirected(pairs, post, "vec_id")
  }

  /** Direct state-recomputed pairs by the persisted-seq arrival key and
    * left-join back onto the postings' id/seq universe. */
  private def stateDirected(pairs: org.apache.spark.sql.DataFrame,
      post: org.apache.spark.sql.DataFrame, idCol: String)
      : org.apache.spark.sql.DataFrame = {
    val dirn = pairs.select(
      when(col("ka") < col("kb"), col("ya")).otherwise(col("xa")).as("doc"),
      when(col("ka") < col("kb"), col("xa")).otherwise(col("ya")).as("blocker"),
      least(col("ka"), col("kb")).as("bakey"))
    val v = dirn.groupBy("doc")
      .agg(min_by(col("blocker"), col("bakey")).as("near_dup_of"))
    post.select(col(idCol), col("seq").as("batch")).distinct()
      .join(v, col(idCol) === col("doc"), "left")
      .select(col(idCol), col("batch"), col("near_dup_of"),
        col("near_dup_of").isNull.as("is_novel"))
      .orderBy(idCol)
  }

  private def parquetFiles(dir: java.nio.file.Path): Int =
    operators.StateManifest.partFileCount(dir.toString)

  /** Same recomputation for the pHash ingest: pairs from the band
    * postings via the direct in-bucket join (ungated — complete by the
    * same pigeonhole, and ground truth must not share the routing code
    * under test), Hamming-≤3 verify, seq direction. */
  private def phashStateVerdicts(stateRoot: String)
      : org.apache.spark.sql.DataFrame = {
    val post =
      operators.StateManifest.read(spark, s"$stateRoot/postings").get
    def akey(seq: org.apache.spark.sql.Column,
        d: org.apache.spark.sql.Column) = seq * lit(1099511627776L) + d
    val ham = Seq("s0", "s1", "s2", "s3").map(c =>
      bit_count(col(s"x.$c").bitwiseXOR(col(s"y.$c"))).cast("long"))
      .reduce(_ + _)
    val pairs = post.as("x")
      .join(post.as("y"),
        col("x.si") === col("y.si") && col("x.sv") === col("y.sv") &&
          col("x.doc_id") < col("y.doc_id"))
      .withColumn("hamming", ham)
      .filter(col("hamming") <= 3)
      .select(col("x.doc_id").as("xa"), col("y.doc_id").as("ya"),
        akey(col("x.seq"), col("x.doc_id")).as("ka"),
        akey(col("y.seq"), col("y.doc_id")).as("kb"))
      .distinct()
    stateDirected(pairs, post, "doc_id")
  }

  test("incremental pHash media index AvailableNow parity: a " +
      "file-source run maintaining manifest-committed band postings " +
      "reproduces the batch-decomposed ingest-time verdicts exactly") {
    val base = Paths.get(s"${Tables.scratchRoot}/phash_incr")
    Tables.rmTree(base.toFile)
    val (streamedDf, batches) =
      operators.Multimodal.phashIndexIngest(spark, sf, base.toString)
    assert(batches == 3,
      s"expected 3 micro-batches (one per file drop), got $batches")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getBoolean(3))).toSeq
    val streamed = rows(streamedDf)
    val batchForm =
      rows(SparkEntry.queries("multimodal_phash_incremental")(spark, sf))
    assert(streamed == batchForm,
      s"streamed pHash verdicts diverge from the batch form: " +
        s"${streamed.diff(batchForm).take(5)} vs " +
        s"${batchForm.diff(streamed).take(5)}")
    // non-vacuous: the planted perturbed copies must actually block
    val blocked = streamed.count(!_._4)
    assert(blocked > 0, "no media was ever blocked — vacuous parity")

    // scrambled processing order: direction must derive from the
    // persisted seq, pinned against the state-only recomputation
    val base2 = Paths.get(s"${Tables.scratchRoot}/phash_incr_scram")
    Tables.rmTree(base2.toFile)
    val (scrambledDf, _) = operators.Multimodal.phashIndexIngest(
      spark, sf, base2.toString, scrambleOrder = true)
    val firstOffset = new String(Files.readAllBytes(
      base2.resolve("ckpt/sources/0/0")))
    assert(firstOffset.contains("/b2/"),
      s"mtime scramble did not reorder the file source: $firstOffset")
    assert(rows(scrambledDf) == rows(phashStateVerdicts(base2.toString)),
      "scrambled-order pHash verdicts diverge from the recomputation " +
        "off persisted state — the direction is not state-derived")

    // incremental KEEPERS pins (r15 verdict task 6). The verdict forest
    // legitimately depends on arrival order (the scrambled run's
    // planted copies arrive FIRST and block their originals), so the
    // consumer's contract is: keepers are a pure function of the
    // manifest-committed verdict STATE, whatever order produced it.
    // Pin 1: chased from the IN-ORDER run's state (arrival = the id%3
    // convention), keepers equal the registered consumer's frame.
    def keeperRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    def keepersOf(stateRoot: String) = keeperRows(
      operators.Dedup.resolveRoots(
        phashStateVerdicts(stateRoot).select(col("doc_id").as("m"),
          coalesce(col("near_dup_of"), col("doc_id")).as("p")))
        .select(col("m"), col("p"), (col("m") === col("p")).as("k"))
        .orderBy("m"))
    val keepersFromState = keepersOf(base.toString)
    val keepersRegistered = keeperRows(SparkEntry.queries(
      "multimodal_phash_keepers_incremental")(spark, sf))
    assert(keepersFromState == keepersRegistered,
      "state-derived media keepers diverge from the registered " +
        s"consumer: ${keepersFromState.diff(keepersRegistered).take(5)}" +
        s" vs ${keepersRegistered.diff(keepersFromState).take(5)}")
    // non-vacuous: blocked media must exist and resolve to keepers
    assert(keepersRegistered.exists(!_._3),
      "no media was ever dropped — vacuous keepers pin")
    assert(keepersRegistered.filter(!_._3).forall { case (_, k, _) =>
      keepersRegistered.exists(r => r._1 == k && r._3) },
      "a dropped media's representative is not itself a keeper")
    // Pin 2: the SCRAMBLED run's state resolves to an internally
    // consistent drop list (reps are keepers, keepers self-map) that
    // DIFFERS from the in-order one — proof the consumer derives from
    // state, and that the order-dependence lives in the verdicts, not
    // in the resolve
    val keepersScrambled = keepersOf(base2.toString)
    val scramKeepers = keepersScrambled.filter(_._3).map(_._1).toSet
    assert(keepersScrambled.filter(!_._3).forall(k => scramKeepers(k._2)),
      "scrambled-state drop list resolves to a non-keeper")
    assert(keepersScrambled != keepersFromState,
      "scrambled arrival produced the identical keeper set — the " +
        "order-sensitivity this pin documents is vacuous here")

    // hash-split drops: batch membership not derivable from the id
    val base3 = Paths.get(s"${Tables.scratchRoot}/phash_incr_hash")
    Tables.rmTree(base3.toFile)
    val (hashDf, _) = operators.Multimodal.phashIndexIngest(
      spark, sf, base3.toString, hashSplit = true)
    val hashRows = rows(hashDf)
    assert(hashRows == rows(phashStateVerdicts(base3.toString)),
      "hash-split pHash verdicts diverge from the recomputation off " +
        "persisted state")
    assert(hashRows.exists(r => r._2 != r._1 % 3),
      "every hash-split media landed in its id%3 batch — the " +
        "membership decoupling is vacuous")
    spark.catalog.clearCache()
  }

  test("StateManifest: a kill between the compaction write and the " +
      "manifest swap leaves the committed state fully intact, and " +
      "batch tags stay replay-idempotent across a compaction") {
    import spark.implicits._
    val root = s"${Tables.scratchRoot}/manifest_kill"
    val rootP = Paths.get(root)
    Tables.rmTree(rootP.toFile)
    val M = operators.StateManifest
    M.append(spark, root, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "b0")
    M.append(spark, root, Seq((3L, "c")).toDF("id", "v"), "b1")
    def state(): Seq[(Long, String)] =
      M.read(spark, root).get.orderBy("id").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
    val before = state()
    assert(before == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // the crash window: the compacted rewrite is fully written but the
    // manifest swap never happens — readers must see the OLD state,
    // byte-for-byte (no torn reads, no partial dir lists)
    val v = M.prepareReplace(spark, root,
      M.read(spark, root).get, "compact", nFiles = 1)
    assert(state() == before,
      "an uncommitted replacement changed the visible state")
    assert(M.entries(root).size == 2,
      "an uncommitted replacement changed the manifest entry list")
    // the swap commits: same content, one data dir, orphans vacuumed
    M.commitReplace(root, v, "compact")
    assert(state() == before, "the compaction swap changed the content")
    assert(M.entries(root).size == 1)
    assert(Option(new java.io.File(root).listFiles()).get
      .count(_.getName.startsWith("data_v")) == 1,
      "superseded data dirs were not vacuumed")
    // replay idempotence ACROSS the compaction: the applied-tag history
    // survives the manifest rewrite, so re-appending an already-folded
    // batch is a no-op (the pre-manifest append had exactly this
    // double-append exposure)
    M.append(spark, root, Seq((3L, "c")).toDF("id", "v"), "b1")
    assert(state() == before,
      "a replayed batch tag double-appended after compaction")
  }

  test("contribution-log retention TTL: expired docs' verdicts are " +
      "dropped by policy; verdicts inside the retained window are " +
      "untouched") {
    val baseAll = Paths.get(s"${Tables.scratchRoot}/minhash_ttl_all")
    val baseTtl = Paths.get(s"${Tables.scratchRoot}/minhash_ttl_1")
    for (b <- Seq(baseAll, baseTtl)) Tables.rmTree(b.toFile)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getBoolean(3))).toSeq
    // control: maintain every batch, keep everything
    val (allDf, _) = operators.Dedup.minhashIndexIngest(
      spark, sf, baseAll.toString, compactEvery = 1)
    // retained: same cadence, TTL = 1 batch — after the final
    // maintenance (curSeq=2) only dseq=2 contributions survive
    val (ttlDf, _) = operators.Dedup.minhashIndexIngest(
      spark, sf, baseTtl.toString, compactEvery = 1, retainBatches = 1)
    val contribs =
      operators.StateManifest.read(spark, s"$baseTtl/verdicts").get
    assert(contribs.filter(col("dseq") < 2).count() == 0,
      "expired contributions survived the retention TTL")
    assert(contribs.count() > 0,
      "retention dropped the whole log — the window pin is vacuous")
    // verdicts for docs in the retained window (ingest batch 2) are
    // byte-identical to the keep-everything control...
    val (allRows, ttlRows) = (rows(allDf), rows(ttlDf))
    assert(allRows.filter(_._2 == 2L) == ttlRows.filter(_._2 == 2L),
      "retention changed a verdict inside the retained window")
    // ...and expired docs (batches 0-1) read as novel: their verdicts
    // aged out of the log, which is exactly what the policy bound means
    assert(ttlRows.filter(_._2 < 2L).forall(_._4),
      "an expired doc kept a verdict the TTL should have dropped")
    // the pin is non-vacuous only if retention actually changed rows
    assert(allRows != ttlRows,
      "TTL run identical to keep-all — no doc actually expired")
    // tag-horizon prune: maintaining every batch leaves each state
    // root's manifest with only the last batch's tag, and a replay of
    // that batch is still a no-op
    val M = operators.StateManifest
    for (b <- Seq(baseAll, baseTtl); sub <- Seq("postings", "verdicts")) {
      val root = s"$b/$sub"
      assert(M.appliedTags(root) == Set("b2"),
        s"batch tags below the horizon survived in $root: " +
          M.appliedTags(root))
      val before = (M.currentVersion(root), M.read(spark, root).get.count())
      M.append(spark, root, M.read(spark, root).get, "b2")
      assert((M.currentVersion(root), M.read(spark, root).get.count()) ==
        before, s"a replayed b2 changed the state in $root")
    }
  }

  test("incremental MinHash index AvailableNow parity: a file-source " +
      "run maintaining band postings in parquet reproduces the " +
      "batch-decomposed ingest-time verdicts exactly") {
    val base = Paths.get(s"${Tables.scratchRoot}/minhash_incr")
    Tables.rmTree(base.toFile)
    val (streamedDf, batches) =
      operators.Dedup.minhashIndexIngest(spark, sf, base.toString)
    assert(batches == 3,
      s"expected 3 micro-batches (one per file drop), got $batches — " +
        "the incremental index path was not exercised")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getBoolean(3))).toSeq
    val streamed = rows(streamedDf)
    val batchForm =
      rows(SparkEntry.queries("dedup_minhash_incremental")(spark, sf))
    assert(streamed == batchForm,
      s"streamed verdicts diverge from the batch form: " +
        s"${streamed.diff(batchForm).take(5)} vs " +
        s"${batchForm.diff(streamed).take(5)}")
    // the parity must not be vacuous: sf0.001 carries a real near-dup
    // population (28 LSH pairs / 24 blocked docs)
    val blocked = streamed.count(!_._4)
    assert(blocked > 0, "no doc was ever blocked — vacuous parity")

    // text-tier incremental KEEPERS (round 16): representatives chased
    // from the streamed verdict frame equal the registered consumer's
    // — the resolve is a pure function of the verdict forest
    val parFromStreamed = streamedDf.select(col("doc_id").as("m"),
      coalesce(col("near_dup_of"), col("doc_id")).as("p"))
    val keepersFromStreamed =
      operators.Dedup.resolveRoots(parFromStreamed)
        .select(col("m"), col("p"), (col("m") === col("p")).as("k"))
        .orderBy("m").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    val keepersRegistered = SparkEntry.queries(
      "dedup_minhash_keepers_incremental")(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(keepersFromStreamed == keepersRegistered,
      "streamed-state text keepers diverge from the registered " +
        "consumer")
    assert(keepersRegistered.exists(!_._3),
      "no doc was ever dropped — vacuous text keepers pin")

    // maintenance (round-13 verdict task 4): the default run compacts
    // mid-stream (compactEvery=2 over 3 drops), and its verdicts above
    // are already pinned identical to the batch form — so compaction is
    // verdict-invariant by that same assertion. A no-compaction control
    // run must carry MORE state files (the small-files growth the
    // maintenance step exists to bound) and identical verdicts.
    val baseNc = Paths.get(s"${Tables.scratchRoot}/minhash_incr_nc")
    Tables.rmTree(baseNc.toFile)
    val (ncDf, _) = operators.Dedup.minhashIndexIngest(
      spark, sf, baseNc.toString, compactEvery = 0)
    assert(rows(ncDf) == batchForm,
      "no-compaction control diverged — the compaction pin is vacuous")
    val (fc, fnc) = (parquetFiles(base.resolve("postings")),
      parquetFiles(baseNc.resolve("postings")))
    assert(fc < fnc,
      s"compaction did not bound the postings file count: $fc !< $fnc")
    // retention: the contribution log folds to ≤1 row/doc at each
    // maintenance point, so it can never exceed the raw append log
    val (cc, cnc) = (
      operators.StateManifest.read(spark, s"$base/verdicts").get.count(),
      operators.StateManifest.read(spark, s"$baseNc/verdicts").get.count())
    assert(cc <= cnc, s"contribution retention grew the log: $cc > $cnc")

    // order-independence, state-derived (round-13 verdict task 3):
    // force the file source to process b2, b0, b1 — the persisted seq
    // records THAT order, and the verdict table must equal the
    // batch-global recomputation from the persisted state alone
    val base2 = Paths.get(s"${Tables.scratchRoot}/minhash_incr_scram")
    Tables.rmTree(base2.toFile)
    val (scrambledDf, batches2) = operators.Dedup.minhashIndexIngest(
      spark, sf, base2.toString, scrambleOrder = true)
    assert(batches2 == 3)
    // guard against a vacuous pass: the source's committed offset log
    // must show batch 0 actually consumed the b2 file drop
    val firstOffset = new String(Files.readAllBytes(
      base2.resolve("ckpt/sources/0/0")))
    assert(firstOffset.contains("/b2/"),
      s"mtime scramble did not reorder the file source: $firstOffset")
    assert(rows(scrambledDf) == rows(minhashStateVerdicts(base2.toString)),
      "scrambled-order verdicts diverge from the recomputation off " +
        "persisted state — the direction is not state-derived")

    // batch membership NOT derivable from the id: hash-split drops
    // (xxhash64(doc_id) % 3) — the engine must still reproduce the
    // state recomputation exactly, and some doc must land in a batch
    // different from doc_id % 3 (or the decoupling is vacuous)
    val base3 = Paths.get(s"${Tables.scratchRoot}/minhash_incr_hash")
    Tables.rmTree(base3.toFile)
    val (hashDf, _) = operators.Dedup.minhashIndexIngest(
      spark, sf, base3.toString, hashSplit = true)
    val hashRows = rows(hashDf)
    assert(hashRows == rows(minhashStateVerdicts(base3.toString)),
      "hash-split verdicts diverge from the recomputation off " +
        "persisted state")
    assert(hashRows.exists(r => r._2 != r._1 % 3),
      "every hash-split doc landed in its doc_id%3 batch — the " +
        "membership decoupling is vacuous")
  }

  test("incremental IVF index AvailableNow parity: a file-source run " +
      "maintaining (vec_id, cell, vec) postings in parquet reproduces " +
      "the batch-decomposed ingest-time verdicts exactly") {
    val base = Paths.get(s"${Tables.scratchRoot}/ivf_incr")
    Tables.rmTree(base.toFile)
    val (streamedDf, batches) =
      operators.Dedup.ivfIndexIngest(spark, sf, base.toString)
    assert(batches == 3,
      s"expected 3 micro-batches (one per file drop), got $batches — " +
        "the incremental index path was not exercised")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getBoolean(3))).toSeq
    val streamed = rows(streamedDf)
    val batchForm =
      rows(SparkEntry.queries("sim_ivf_incremental")(spark, sf))
    assert(streamed == batchForm,
      s"streamed verdicts diverge from the batch form: " +
        s"${streamed.diff(batchForm).take(5)} vs " +
        s"${batchForm.diff(streamed).take(5)}")
    // the parity must not be vacuous: the planted vec_id%5 canaries
    // give sf0.001 a real within-cell near-dup population
    val blocked = streamed.count(!_._4)
    assert(blocked > 0, "no vector was ever blocked — vacuous parity")

    // maintenance: no-compaction control — identical verdicts, more
    // state files (see the minhash test for the full rationale)
    val baseNc = Paths.get(s"${Tables.scratchRoot}/ivf_incr_nc")
    Tables.rmTree(baseNc.toFile)
    val (ncDf, _) = operators.Dedup.ivfIndexIngest(
      spark, sf, baseNc.toString, compactEvery = 0)
    assert(rows(ncDf) == batchForm,
      "no-compaction control diverged — the compaction pin is vacuous")
    val (fc, fnc) = (parquetFiles(base.resolve("postings")),
      parquetFiles(baseNc.resolve("postings")))
    assert(fc < fnc,
      s"compaction did not bound the postings file count: $fc !< $fnc")
    assert(
      operators.StateManifest.read(spark, s"$base/verdicts").get.count() <=
        operators.StateManifest.read(spark, s"$baseNc/verdicts").get.count(),
      "contribution retention grew the log")

    // order-independence, state-derived: scrambled processing order is
    // recorded in the persisted seq, and the verdict table must equal
    // the batch-global recomputation from the persisted state alone
    val base2 = Paths.get(s"${Tables.scratchRoot}/ivf_incr_scram")
    Tables.rmTree(base2.toFile)
    val (scrambledDf, batches2) = operators.Dedup.ivfIndexIngest(
      spark, sf, base2.toString, scrambleOrder = true)
    assert(batches2 == 3)
    val firstOffset = new String(Files.readAllBytes(
      base2.resolve("ckpt/sources/0/0")))
    assert(firstOffset.contains("/b2/"),
      s"mtime scramble did not reorder the file source: $firstOffset")
    assert(rows(scrambledDf) == rows(ivfStateVerdicts(base2.toString)),
      "scrambled-order verdicts diverge from the recomputation off " +
        "persisted state — the direction is not state-derived")

    // batch membership NOT derivable from the id: hash-split drops
    val base3 = Paths.get(s"${Tables.scratchRoot}/ivf_incr_hash")
    Tables.rmTree(base3.toFile)
    val (hashDf, _) = operators.Dedup.ivfIndexIngest(
      spark, sf, base3.toString, hashSplit = true)
    val hashRows = rows(hashDf)
    assert(hashRows == rows(ivfStateVerdicts(base3.toString)),
      "hash-split verdicts diverge from the recomputation off " +
        "persisted state")
    assert(hashRows.exists(r => r._2 != r._1 % 3),
      "every hash-split vector landed in its vec_id%3 batch — the " +
        "membership decoupling is vacuous")
  }
}

object StreamsSpec {
  import org.scalatest.Assertions._

  /** The reference's cross-run seen-ID contract (S4+Str2+Str3): a file
    * consumed by run 1 must not re-process in run 2, and an ID deduped in
    * run 1 must STAY deduped in run 2 — i.e. the file-source commit log
    * and the state store both recover from the SAME checkpoint. This is
    * the property that makes a daily AvailableNow job exactly-once across
    * scheduler restarts at any scale. `run` starts the configured writer
    * as an AvailableNow query and waits for it; the scenario lives under
    * `<scratchRoot>/<name>` and returns its checkpoint directory. */
  def restartScenario(spark: org.apache.spark.sql.SparkSession,
      name: String)(
      run: org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] => Unit): java.nio.file.Path = {
    import org.apache.spark.sql.types.{LongType, StructType}
    val base = Paths.get(s"${Tables.scratchRoot}/$name")
    Tables.rmTree(base.toFile)
    val src = base.resolve("incoming"); Files.createDirectories(src)
    val ckpt = base.resolve("ckpt")
    val out = base.resolve("out").toString
    val schema = new StructType().add("user_id", LongType)
    // parquet sink, not memory: the memory sink refuses checkpoint
    // recovery by design (not fault-tolerant), and the file sink's own
    // commit log makes the assertion end-to-end exactly-once
    def runOnce(): Unit =
      run(spark.readStream.schema(schema).json(src.toString)
        .dropDuplicates("user_id")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append"))
    Files.writeString(src.resolve("f1.json"),
      (1L to 5L).map(i => s"""{"user_id":$i}""").mkString("\n"))
    runOnce()
    assert(spark.read.parquet(out).count() == 5)
    // second batch overlaps the first on ids 4 and 5
    Files.writeString(src.resolve("f2.json"),
      (4L to 8L).map(i => s"""{"user_id":$i}""").mkString("\n"))
    runOnce()
    // exactly-once across the restart: f1 not re-emitted (source commit
    // log), 4 and 5 suppressed by the RESTORED dedup state, 6-8 new —
    // 8 rows total, no value twice
    val got = spark.read.parquet(out).collect().map(_.getLong(0)).toSeq
    assert(got.size == 8 && got.toSet == (1L to 8L).toSet,
      s"restart produced $got, expected exactly 1..8 once each")
    ckpt
  }
}

/** Event-time session processor for the timer spec: counts events per key,
  * (re-)arms a timer at max-event-time + a 10-minute gap, and emits the
  * session ONLY from handleExpiredTimer — the timer leg of the
  * transformWithState API (the registered queries cover the input leg).
  */
private class TimerSessionProcessor
  extends org.apache.spark.sql.streaming.StatefulProcessor[
    Long, (java.sql.Timestamp, Long), (Long, Long)] {
  import org.apache.spark.sql.streaming.{
    ExpiredTimerInfo, OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
  import org.apache.spark.sql.Encoders

  private val gapMs = 10L * 60 * 1000

  // (n_events, armed_timer_ms)
  @transient private var st: ValueState[(Long, Long)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[(Long, Long)]("session",
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong), TTLConfig.NONE)

  override def handleInputRows(key: Long,
      rows: Iterator[(java.sql.Timestamp, Long)],
      timers: TimerValues): Iterator[(Long, Long)] = {
    var (n, oldTimer) = if (st.exists()) st.get() else (0L, -1L)
    var maxTs = Long.MinValue
    rows.foreach { case (t, _) => n += 1; maxTs = math.max(maxTs, t.getTime) }
    val newTimer = maxTs + gapMs
    if (oldTimer >= 0 && oldTimer != newTimer) getHandle.deleteTimer(oldTimer)
    getHandle.registerTimer(newTimer)
    st.update((n, newTimer))
    Iterator.empty // sessions emit only on timer expiry
  }

  override def handleExpiredTimer(key: Long, timers: TimerValues,
      expired: ExpiredTimerInfo): Iterator[(Long, Long)] = {
    val (n, _) = if (st.exists()) st.get() else (0L, -1L)
    st.clear()
    Iterator.single((key, n))
  }
}
