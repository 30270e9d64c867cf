package graft

import java.nio.file.{Files, Paths}
import graft.streaming.Streams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Pins the events.ts encoding contract against silent testdata
  * regeneration. The driver's generator has emitted two distinct parquet
  * encodings for `ts` across rounds: INT64 nanos (read as LongType under
  * the legacy nanosAsLong conf) and TIMESTAMP(MICROS) without
  * isAdjustedToUTC (read as TIMESTAMP_NTZ). Round 7 lost five watermark
  * queries to the second one — Spark 4 rejects NTZ event time with
  * EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE. This spec materializes a
  * watermarked stream over a tiny fixture of EACH encoding, so the next
  * generator flip fails here, not in the driver run.
  */
class EventTsEncodingSpec extends SparkSpec {

  private val base = Paths.get(s"${Tables.scratchRoot}/ts_encoding_fixtures")

  private def wipe(p: java.nio.file.Path): Unit = {
    if (Files.isDirectory(p)) Files.list(p).forEach(c => wipe(c))
    Files.deleteIfExists(p); ()
  }

  /** Write a 6-row events.parquet under `dir` with ts encoded per
    * `encode`, covering a 3-hour spread so a 1-hour tumbling window
    * produces multiple groups. */
  private def writeFixture(dir: java.nio.file.Path,
      encode: DataFrame => DataFrame): Unit = {
    import spark.implicits._
    val rows = Seq(
      (1L, "2024-01-01 00:05:00", 10L, "view", 1.0, "{}"),
      (2L, "2024-01-01 00:35:00", 10L, "view", 2.0, "{}"),
      (3L, "2024-01-01 01:05:00", 11L, "click", 3.0, "{}"),
      (4L, "2024-01-01 01:45:00", 11L, "view", 4.0, "{}"),
      (5L, "2024-01-01 02:15:00", 12L, "buy", 5.0, "{}"),
      (5L, "2024-01-01 02:15:00", 12L, "buy", 5.0, "{}")) // dup event_id
      .toDF("event_id", "ts_s", "user_id", "event_type", "value", "props")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    encode(rows).select("event_id", "ts", "user_id", "event_type",
        "value", "props")
      .coalesce(1).write.mode("overwrite")
      .parquet(dir.resolve("events.parquet").toString)
  }

  /** The watermark path under test: Streams.eventStream → withWatermark →
    * dedup → windowed count, materialized via AvailableNow. Returns
    * (windowCount, dedupedEvents). */
  private def runWatermarked(dir: String): (Long, Long) = {
    val stream = Streams.eventStream(spark, dir)
    assert(stream.schema("ts").dataType == TimestampType,
      s"eventStream must surface session-tz TIMESTAMP, got " +
        stream.schema("ts").dataType)
    val windowed = stream
      .withWatermark("ts", "1 hour")
      .dropDuplicates("event_id")
      .groupBy(window(col("ts"), "1 hour"))
      .count()
    val q = windowed.writeStream.format("memory")
      .queryName("ts_encoding_fixture")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val out = spark.table("ts_encoding_fixture")
    (out.count(), out.agg(sum("count")).head.getLong(0))
  }

  test("INT64-nanos ts encoding flows through eventStream → watermark") {
    val dir = base.resolve("nanos"); wipe(dir)
    // Spark cannot write parquet TIMESTAMP(NANOS); a plain INT64 column
    // is type-identical at the read boundary (both surface LongType under
    // nanosAsLong), which is the contract normalizeEventTs keys on.
    // Integer multiply — the fixture stamps are whole seconds, and a
    // double round-trip would wobble at 1e18-scale nanos.
    writeFixture(dir, df => df.withColumn("ts",
      col("ts").cast("long") * 1000000000L))
    val raw = spark.read.parquet(dir.resolve("events.parquet").toString)
    assert(raw.schema("ts").dataType == LongType)
    val (windows, events) = runWatermarked(dir.toString)
    assert(windows == 3 && events == 5,
      s"nanos fixture: got $windows windows / $events events, want 3 / 5")
  }

  test("TIMESTAMP(MICROS)-NTZ ts encoding flows through eventStream → " +
      "watermark") {
    val dir = base.resolve("ntz"); wipe(dir)
    writeFixture(dir, df => df.withColumn("ts",
      col("ts").cast("timestamp_ntz")))
    val raw = spark.read.parquet(dir.resolve("events.parquet").toString)
    assert(raw.schema("ts").dataType == TimestampNTZType)
    val (windows, events) = runWatermarked(dir.toString)
    assert(windows == 3 && events == 5,
      s"NTZ fixture: got $windows windows / $events events, want 3 / 5")
  }

  test("the memoized raw schema equals a fresh inference: all 10 tables " +
      "and events under both ts encodings") {
    def fresh(dir: String, name: String) =
      spark.read.parquet(s"$dir/$name.parquet").schema
    for (name <- Tables.names)
      assert(Tables.rawSchema(spark, sf, name) == fresh(sf, name), name)
    val encodings = Seq[(String, DataFrame => DataFrame)](
      "memo_nanos" -> (df => df.withColumn("ts",
        col("ts").cast("long") * 1000000000L)),
      "memo_ntz" -> (df => df.withColumn("ts",
        col("ts").cast("timestamp_ntz"))))
    val rawTs = for ((enc, encode) <- encodings) yield {
      val dir = base.resolve(enc); wipe(dir)
      writeFixture(dir, encode)
      val memo = Tables.rawSchema(spark, dir.toString, "events")
      assert(memo == fresh(dir.toString, "events"), enc)
      assert(Tables.load(spark, dir.toString, "events").schema("ts")
        .dataType == TimestampType, enc)
      memo("ts").dataType
    }
    assert(rawTs == Seq(LongType, TimestampNTZType))
  }

  test("driver testdata at sf0.001 round-trips the CURRENT encoding") {
    // whatever the generator emits today must normalize to TIMESTAMP and
    // carry UTC wall-clock values matching the batch read
    val batch = Tables.load(spark, sf, "events")
    assert(batch.schema("ts").dataType == TimestampType)
    val streamed = Streams.eventStream(spark, sf)
    assert(streamed.schema("ts").dataType == TimestampType)
  }
}
