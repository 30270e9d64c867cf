package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The online near-dup index: the ONE foreachBatch postings loop behind
  * the three incremental near-dup families, and the arrival-direction
  * step their registered batch forms share.
  *
  * The loop is a file-source micro-batch stream over 3 file drops of
  * the arrivals (id % 3, or xxhash64(id) % 3 under `hashSplit`, so
  * specs can prove nothing leans on batch membership being derivable
  * from the id), maintaining a persisted postings index committed via
  * [[StateManifest]] (object-store-safe; batch tags make a replay after
  * any crash point a no-op). Per batch: build the arrivals' postings
  * (stamped with `seq`, the micro-batch id, PERSISTED on every postings
  * row), meet them against index ∪ batch, verify, DIRECT each
  * discovered pair by arrival key (seq · 2⁴⁰ + id — the direction
  * derives from state, never from the id), and append the directed
  * verdict contributions and the batch's postings. Each unordered pair
  * is discovered exactly once — in the batch where its later-PROCESSED
  * member arrives — and every verdict is final at ingest (an item's
  * contributions all arrive in its own batch): append-mode semantics,
  * nothing revised. Maintenance: every `compactEvery` batches the
  * postings are rewritten to a bounded file count, the contribution log
  * is folded to its retained minimum (≤1 row/item; min_by associativity
  * makes both verdict-invariant), and applied batch tags below the
  * executing batch are pruned. `scrambleOrder` forces the file source
  * to process b2, b0, b1 — the adversarial case for the state-derived
  * direction.
  *
  * State layout under the root: `in/b<k>` (the drops), `postings/`,
  * `verdicts/` (contributions: doc, blocker, bakey, dseq), `ckpt/`.
  * StreamsSpec recomputes the verdicts from that persisted state.
  *
  * The families (each supplies arrivals, a postings builder and a
  * candidate join + check):
  *  - MinHash text (Dedup.minhashIndexIngest): band postings, band-key
  *    join, minimal-agreeing-band gate + Jaccard ≥ 0.2;
  *  - IVF embeddings (Dedup.ivfIndexIngest): cell postings under the
  *    frozen codebook, cell join, exact cosine ≥ 0.95;
  *  - pHash media (Multimodal.phashIndexIngest): slice-band postings,
  *    measured-occupancy sub-band routing, Hamming ≤ 3, per-batch
  *    distinct.
  */
private[graft] object PostingsIngest {

  /** Files per state dir after compaction — bounded at this fixture
    * scale; a production deployment sizes it to state volume (files ~
    * bytes / maxPartitionBytes), which stays bounded either way. */
  private val CompactFiles = 1

  /** Default maintenance cadence, in micro-batches. */
  val CompactEvery = 2

  /** Arrival order as ONE scalar BIGINT key, batch · 2⁴⁰ + id: min_by
    * over a scalar stays a hash aggregate (a struct ordering key would
    * silently plan as SortAggregate). */
  private def arrivalKey(batch: Column, id: Column): Column =
    batch * lit(1L << 40) + id

  /** Direct pairs (xa, ya) with arrival keys (ka, kb): the later
    * arrival is the `doc`, the earlier its `blocker`, and `bakey` is the
    * blocker's key. */
  private def directed(pairs: DataFrame): DataFrame = pairs.select(
    when(col("ka") < col("kb"), col("ya")).otherwise(col("xa")).as("doc"),
    when(col("ka") < col("kb"), col("xa")).otherwise(col("ya"))
      .as("blocker"),
    least(col("ka"), col("kb")).as("bakey"))

  /** Per doc, the earliest-arriving blocker (named `as`), plus any
    * further aggregates over the same group. */
  private def earliestBlocker(dirn: DataFrame, as: String,
      more: Column*): DataFrame =
    dirn.groupBy("doc")
      .agg(min_by(col("blocker"), col("bakey")).as(as), more: _*)

  /** Batch-decomposed ingest-time verdicts (doc, near_dup_of) over a
    * global pair set (id_a, id_b): arrival batch = id % 3, the
    * convention the registered incremental queries and their oracles
    * share. Each pair meets once whatever batch discovers it, so this
    * equals the in-order stream's verdicts. */
  def arrivalVerdicts(pairs: DataFrame): DataFrame = {
    def key(id: Column): Column = arrivalKey(pmod(id, lit(3L)), id)
    earliestBlocker(directed(pairs.select(
      col("id_a").as("xa"), col("id_b").as("ya"),
      key(col("id_a")).as("ka"), key(col("id_b")).as("kb"))),
      "near_dup_of")
  }

  /** DuckDB oracle text of [[arrivalVerdicts]]: the CTEs `arr` (every
    * id of column `id` in `source`, with its arrival key), `dirn` (the
    * pairs (id_a, id_b) of `pairs`, directed by that key) and `v` (doc,
    * near_dup_of), to follow an oracle's own CTEs. */
  def arrivalVerdictsSql(id: String, source: String, pairs: String)
      : String = s"""
        arr AS (SELECT $id AS id, ($id % 3) * ${1L << 40} + $id AS akey
                FROM $source),
        dirn AS (
          SELECT CASE WHEN a.akey < b.akey THEN pa.id_b ELSE pa.id_a END
                   AS doc,
                 CASE WHEN a.akey < b.akey THEN pa.id_a ELSE pa.id_b END
                   AS blocker,
                 CASE WHEN a.akey < b.akey THEN a.akey ELSE b.akey END
                   AS bakey
          FROM $pairs pa
          JOIN arr a ON a.id = pa.id_a
          JOIN arr b ON b.id = pa.id_b),
        v AS (SELECT doc, arg_min(blocker, bakey) AS near_dup_of
              FROM dirn GROUP BY doc)"""

  /** Meetings of the batch's postings (`y`) against index ∪ batch (`x`,
    * carrying `in_index`) on `on`, kept by `check`: new-vs-index in
    * either id order (the index row is always the x side, seen once),
    * new-vs-new once via id order → (xa, ya, ka, kb), each side keyed
    * by ITS OWN seq (the index side's from the persisted postings
    * row). */
  def meet(un: DataFrame, batch: DataFrame, id: String, on: Column,
      check: Column): DataFrame =
    batch.as("y")
      .join(un.as("x"),
        on && (col("x.in_index") || col(s"x.$id") < col(s"y.$id")))
      .filter(check)
      .select(col(s"x.$id").as("xa"), col(s"y.$id").as("ya"),
        arrivalKey(col("x.seq"), col(s"x.$id")).as("ka"),
        arrivalKey(col("y.seq"), col(s"y.$id")).as("kb"))

  /** Rewrite a manifest-committed state root to a bounded file count:
    * each micro-batch appends one file set, so without it a postings
    * root becomes the small-files problem the batch
    * `compact_small_files` operator exists to fix. Commits by
    * [[StateManifest.replace]]'s manifest-pointer swap (data first,
    * manifest last), which holds on S3A semantics too. */
  private def compactStateDir(s: SparkSession, path: String): Unit =
    StateManifest.read(s, path).foreach { df =>
      StateManifest.replace(s, path, df, "compact", CompactFiles)
    }

  /** Fold a verdict-contribution log to its retained minimum — at most
    * one row per doc, the (blocker, bakey) of the winning (lowest-akey)
    * contribution; contributions that already lost are the rows the
    * fold drops. With `retainBatches` > 0 a retention TTL additionally
    * drops the verdicts of docs whose own ingest batch (`dseq`) aged out
    * of the last `retainBatches` batches — the policy bound that keeps
    * unbounded-corpus verdict state finite; verdicts inside the window
    * are untouched because a doc's contributions all arrive in its own
    * batch (StreamsSpec pins both halves). */
  private def retainContribs(s: SparkSession, path: String,
      retainBatches: Int, curSeq: Long): Unit =
    StateManifest.read(s, path).foreach { df =>
      val folded = earliestBlocker(df, "blocker",
        min(col("bakey")).as("bakey"), min(col("dseq")).as("dseq"))
      val kept =
        if (retainBatches > 0)
          folded.filter(col("dseq") > curSeq - retainBatches)
        else folded
      StateManifest.replace(s, path, kept, "retain", CompactFiles)
    }

  /** Run the loop to completion (Trigger.AvailableNow) over `arrivals`
    * under `stateRoot`. `postings` builds a batch's postings from its
    * arrival rows; `pairs(un, batch)` returns the verified meetings
    * (xa, ya, ka, kb) of the batch's postings against index ∪ batch
    * (usually via [[meet]]). Returns the verdict frame (id, batch,
    * near_dup_of, is_novel) — batch read from the persisted postings,
    * not from the id — and the micro-batch count. */
  def run(s: SparkSession, stateRoot: String, arrivals: DataFrame,
      id: String, scrambleOrder: Boolean, hashSplit: Boolean,
      compactEvery: Int = CompactEvery, retainBatches: Int = 0)(
      postings: DataFrame => DataFrame)(
      pairs: (DataFrame, DataFrame) => DataFrame): (DataFrame, Int) = {
    val idc = col(id)
    val split =
      if (hashSplit) pmod(xxhash64(idc), lit(3L)) else pmod(idc, lit(3L))
    for (b <- 0 to 2)
      arrivals.filter(split === b)
        .coalesce(1).write.mode("overwrite").parquet(s"$stateRoot/in/b$b")
    // the file source orders by modification time; the persisted seq
    // then records the scrambled order, and the verdicts must equal the
    // recomputation from that SAME persisted state
    if (scrambleOrder) {
      val now = System.currentTimeMillis()
      for ((b, i) <- Seq(2 -> 0, 0 -> 1, 1 -> 2))
        Option(new java.io.File(s"$stateRoot/in/b$b").listFiles())
          .getOrElse(Array.empty)
          .foreach(_.setLastModified(now - 300000L + i * 60000L))
    }
    val postDir = s"$stateRoot/postings"
    val contribDir = s"$stateRoot/verdicts"
    val nBatches = new java.util.concurrent.atomic.AtomicInteger(0)
    graft.streaming.LocalCheckpointFileManager.runAvailableNow(s,
      s.readStream.schema(arrivals.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$stateRoot/in/*")
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val frame =
            postings(batch).withColumn("seq", lit(batchId)).persist()
          val idx = StateManifest.read(s, postDir).getOrElse(frame.limit(0))
          val un = idx.withColumn("in_index", lit(true))
            .unionByName(frame.withColumn("in_index", lit(false)))
          // the doc's OWN ingest batch — the retention TTL's clock
          val contribs =
            directed(pairs(un, frame)).withColumn("dseq", lit(batchId))
          // data files first, manifest last; the batch tag makes a
          // foreachBatch replay after any crash point a no-op instead of
          // a double-append
          StateManifest.append(s, contribDir, contribs, s"b$batchId")
          StateManifest.append(s, postDir, frame, s"b$batchId")
          frame.unpersist()
          if (compactEvery > 0 && (batchId + 1) % compactEvery == 0) {
            compactStateDir(s, postDir)
            retainContribs(s, contribDir, retainBatches, batchId)
            // tag-horizon prune: every batch below the one executing is
            // streaming-checkpoint-committed, so its tag can never be
            // replayed — drop it from the manifest
            StateManifest.pruneBatchTagsBelow(postDir, batchId)
            StateManifest.pruneBatchTagsBelow(contribDir, batchId)
          }
          nBatches.incrementAndGet()
          ()
        }
        .option("checkpointLocation", s"$stateRoot/ckpt"))
    val contrib = StateManifest.read(s, contribDir).getOrElse(
      s.range(0).select(col("id").as("doc"), col("id").as("blocker"),
        col("id").as("bakey")))
    val v = earliestBlocker(contrib, "near_dup_of")
    // distinct: a family may persist several postings rows per item
    val out = StateManifest.read(s, postDir).get
      .select(idc, col("seq").as("batch")).distinct()
      .join(v, idc === col("doc"), "left")
      .select(idc, col("batch"), col("near_dup_of"),
        col("near_dup_of").isNull.as("is_novel"))
      .orderBy(id)
    (out, nBatches.get)
  }
}
