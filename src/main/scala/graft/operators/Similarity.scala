package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Q, QueryModule, Tables}
import graft.functions.{Vectors, VectorExprs}

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  * Scale design:
  *   - `sim_bruteforce_topk` is the BASELINE: a bounded query set broadcast
  *     against all candidates — a map-side broadcast nested-loop, linear in
  *     candidates, no shuffle of the big side. Correct for any data;
  *     O(|q|·N) compute.
  *   - `sim_ann_hyperplane` is the SCALE PATH: sign-random-projection LSH
  *     (4 tables × 8 planes, OR-amplified) → candidates from an equi-join
  *     on (table, bucket) → exact cosine re-rank. Sub-linear candidate set;
  *     SimilaritySpec pins recall against the brute-force baseline.
  *   - `emb_centroid_by_label` runs a typed Aggregator (UDAF, U2) — one
  *     map-side-combined shuffle per label, vectors never collected.
  */
object Similarity extends QueryModule {

  private val DIM = 64

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("vec"))

  /** Corpus size below which [[annConfig]] pins the fixed (bits=4,
    * tables=8) construction — sim_ann_hyperplane's exact table family,
    * so every DuckDB-oracled run replays the same planes bit-for-bit
    * (both oracle SFs sit under it: 500 / 5000 embeddings). */
  private[graft] val AnnPinnedN = 8192L

  /** N-adaptive hyperplane-LSH sizing for ANN → (bits, tables): the
    * round-15 answer to the fixed family's flagged linear candidate
    * growth (SCALE.md §r14 audit). Above [[AnnPinnedN]], bits targets
    * ~32 vectors/bucket/table (bits = ceil(log2(n/32))) so per-query
    * candidates stay ~tables·32 regardless of N, and the table count
    * holds the analytic per-neighbor miss ≤ 1e-4 at the NEAR-DUP
    * benchmark angle (cosine 0.9 → sign-agreement q = 1 − acos(0.9)/π
    * ≈ 0.8564): T = ln(1e4) / −ln(1 − q^bits). That is the regime ANN
    * actually serves at corpus scale (dup-heavy web/embedding data —
    * the planted-canary population SimilaritySpec measures); for
    * far-angle uniform queries (cosine ≈ 0.3) the fixed 4-bit family
    * remains the calibrated recall baseline and sim_ivf_probe the
    * production path, exactly as their scaladocs state. T grows only
    * as ~(1/q)^bits ≈ N^0.22, so construction stays near-linear while
    * per-query cost is ~constant. */
  private[graft] def annConfig(n: Long): (Int, Int) = {
    if (n <= AnnPinnedN) (4, 8)
    else {
      val bits = math.ceil(math.log(n / 32.0) / math.log(2)).toInt
      val q = 1.0 - math.acos(0.9) / math.Pi
      val tables = math.ceil(
        math.log(1e4) / -math.log1p(-math.pow(q, bits))).toInt
      (bits, tables)
    }
  }

  /** The fixed 8-table × 4-bit hyperplane top-5 as DuckDB SQL — the
    * shared oracle of sim_ann_hyperplane and (via annConfig's pinned
    * branch) sim_ann_adaptive. */
  private lazy val hyperplaneTopKSql = """
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings),
        tb AS (SELECT t AS tbl, b AS bit
               FROM (SELECT unnest(range(8)) AS t) _t,
                    (SELECT unnest(range(4)) AS b) _b),
        dots AS (
          SELECT e.vec_id, tb.tbl, tb.bit,
                 list_aggregate(list_transform(range(64), d ->
                   v[d + 1] * (((((tb.tbl * 4 + tb.bit) * 2654435761 % 1000003)
                                 * d + (tb.tbl * 4 + tb.bit) * 40503)
                                % 1000003)
                               / 1000003.0 - 0.5)), 'sum') AS dot
          FROM e CROSS JOIN tb),
        buckets AS (
          SELECT vec_id, tbl,
                 CAST(sum(CASE WHEN dot > 0 THEN 1 << bit ELSE 0 END)
                      AS BIGINT) AS bucket
          FROM dots GROUP BY 1, 2),
        q AS (SELECT vec_id AS q_id, tbl, bucket
              FROM buckets WHERE vec_id < 10),
        cand AS (
          SELECT DISTINCT q.q_id, c.vec_id AS cand_id
          FROM buckets c JOIN q
            ON c.tbl = q.tbl AND c.bucket = q.bucket
           AND c.vec_id <> q.q_id),
        sc AS (SELECT cand.q_id, cand.cand_id,
                      list_cosine_similarity(qe.v, ce.v) AS cos
               FROM cand
               JOIN e qe ON qe.vec_id = cand.q_id
               JOIN e ce ON ce.vec_id = cand.cand_id),
        r AS (SELECT q_id, cand_id, cos,
                     row_number() OVER (PARTITION BY q_id
                       ORDER BY cos DESC, cand_id) AS rn
              FROM sc)
        SELECT q_id, cand_id, CAST(rn AS BIGINT) AS rn,
               round(cos, 6) AS cos_sim
        FROM r WHERE rn <= 5 ORDER BY q_id, rn"""

  /** The hyperplane-LSH top-5 pipeline parameterized by (bits, tables)
    * — the shared body of sim_ann_hyperplane (fixed 4×8, the pinned
    * recall baseline) and sim_ann_adaptive ([[annConfig]] sizing).
    * Plane identity is (tbl · bits + bit), so the pinned configuration
    * replays the identical DuckDB oracle either way. */
  private[graft] def hyperplaneTopK(e: DataFrame,
      bits: Int, tables: Int): DataFrame =
    hyperplaneTopKFrom(e, hyperplaneBuckets(e, bits, tables))

  /** The probe side of [[hyperplaneTopK]], taking the bucket table as
    * an input — `buckets` may be the inline construction (the fixed
    * baseline queries) or the persisted index table ([[hyperplaneIndex]]
    * — sim_ann_adaptive's path, r15 verdict task 5). Only (vec_id, tbl,
    * bucket) is consumed: vectors are re-attached by id-keyed joins, so
    * an ids-only index table loses nothing (and column pruning already
    * dropped the vectors from the inline frame here). */
  private[graft] def hyperplaneTopKFrom(e: DataFrame,
      buckets: DataFrame): DataFrame = {
    val q = buckets.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"),
        col("tbl").as("q_tbl"), col("bucket").as("q_bucket"))
    // dedupe on IDS ONLY, then re-attach vectors by id-keyed joins —
    // the oracle's own shape (DISTINCT q_id, cand_id then JOIN e).
    // The previous dropDuplicates carried both 64-dim vectors
    // through the distinct: first(array) buffers are not
    // UnsafeRow-mutable, so the multi-table candidate stream was
    // SORTED dragging 2×512 B per row (PlanSmells audit catch).
    // Id-only distinct is a 16 B/row hash aggregate, and column
    // pruning drops the vectors from the bucket join entirely.
    val cand = buckets
      .join(broadcast(q),
        col("tbl") === col("q_tbl") && col("bucket") === col("q_bucket") &&
          col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("cand_id"))
      .distinct()
    val w = Window.partitionBy("q_id")
      .orderBy(col("cos").desc, col("cand_id"))
    cand
      .join(e.select(col("vec_id").as("q_id"), col("vec").as("qv")),
        "q_id")
      .join(e.select(col("vec_id").as("cand_id"), col("vec").as("cv")),
        "cand_id")
      .withColumn("cos", VectorExprs.cosine(col("qv"), col("cv")))
      .select(col("q_id"), col("cand_id"),
        row_number().over(w).cast("long").as("rn"),
        round(col("cos"), 6).as("cos_sim"))
      .filter(col("rn") <= 5)
      .orderBy("q_id", "rn")
  }

  /** Persisted hyperplane bucket INDEX — the amortized-ANN shape (r15
    * verdict task 5): the table set is checkpointed to storage as a
    * TABLE keyed by (corpus, N, bits, tables), the same
    * checkpoint-to-table stance the pHash scaladoc mandates for
    * fingerprints, so the registered query measures PROBE cost and the
    * construction is a separate, reusable artifact (the committed r15
    * 100× row was construction-bound at the bench's 10-query shape —
    * 30.7 s amortizing only past ≈1,700 queries; with the index warm
    * the query pays the broadcast bucket join alone). Build-if-absent:
    * the first caller constructs the deterministic (vec_id, tbl,
    * bucket) frame and commits it via [[StateManifest.replace]] (data
    * first, manifest last — crash-safe, object-store-safe); every
    * later caller, across JVMs, reads the manifest. Determinism: the
    * planes are seeded by (tbl·bits+bit) alone, so the persisted
    * content is bit-identical to the inline construction and the
    * DuckDB oracle replays unchanged (hash-green either way). The key
    * hashes the corpus DIR plus N and the config — fixture dirs are
    * immutable here; a production deployment keys on table version. */
  private[graft] def hyperplaneIndex(s: SparkSession, dir: String,
      e: DataFrame, n: Long, bits: Int, tables: Int): DataFrame = {
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString
      .take(12)
    val root =
      s"${graft.Tables.scratchRoot}/ann_index/emb_${key}_n${n}_b${bits}x$tables"
    if (StateManifest.currentVersion(root) == 0)
      StateManifest.replace(s, root,
        hyperplaneBuckets(e, bits, tables)
          .select(col("vec_id"), col("tbl"), col("bucket")),
        tag = "build", nFiles = 0)
    StateManifest.read(s, root).get
  }

  /** (vec_id, vec, tbl, bucket) LSH bucket frame for an arbitrary
    * (bits, tables) hyperplane family. */
  private[graft] def hyperplaneBuckets(e: DataFrame,
      bits: Int, tables: Int): DataFrame =
    e.select(
      col("vec_id"), col("vec"),
      explode(transform(sequence(lit(0), lit(tables - 1)), t =>
        struct(t.as("tbl"),
          VectorExprs.lshBucket(col("vec"), t, bits = bits)
            .as("bucket"))))
        .as("tb"))
      .select(col("vec_id"), col("vec"), col("tb.tbl"), col("tb.bucket"))

  val all: Seq[Q] = Seq(

    Q(
      "sim_bruteforce_topk",
      Some("""
        WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
                   FROM embeddings WHERE vec_id < 10),
        c AS (SELECT vec_id AS cand_id, CAST(embedding AS DOUBLE[]) AS cv
              FROM embeddings),
        sc AS (SELECT q_id, cand_id,
                      list_cosine_similarity(qv, cv) AS cos
               FROM q CROSS JOIN c WHERE q_id <> cand_id),
        r AS (SELECT q_id, cand_id, cos,
                     row_number() OVER (PARTITION BY q_id
                       ORDER BY cos DESC, cand_id) AS rn
              FROM sc)
        SELECT q_id, cand_id, CAST(rn AS BIGINT) AS rn,
               round(cos, 6) AS cos_sim
        FROM r WHERE rn <= 5 ORDER BY q_id, rn"""),
      (s, dir) => {
        val e = emb(s, dir)
        val q = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("vec").as("qv"))
        val c = e.select(col("vec_id").as("cand_id"), col("vec").as("cv"))
        val w = Window.partitionBy("q_id")
          .orderBy(col("cos").desc, col("cand_id"))
        c.join(broadcast(q), col("q_id") =!= col("cand_id"))
          .withColumn("cos", VectorExprs.cosine(col("qv"), col("cv")))
          .select(col("q_id"), col("cand_id"),
            row_number().over(w).cast("long").as("rn"),
            round(col("cos"), 6).as("cos_sim"))
          .filter(col("rn") <= 5)
          .orderBy("q_id", "rn")
      }),

    // LSH-bucketed ANN. The hyperplanes are deterministic (linear-
    // congruential components, VectorOps.lshBucket), so the whole
    // construction replays in DuckDB SQL: same planes, same sign bits,
    // same bucket join, same exact re-rank — a bit-exact oracle, not just
    // the recall pin (which SimilaritySpec still keeps).
    Q(
      "sim_ann_hyperplane",
      Some(hyperplaneTopKSql),
      // 8 tables × 4 sign bits: the testdata's true top-5 neighbors sit
      // near cosine 0.3 (~72°, per-bit agreement ~0.6), so narrow buckets
      // would miss them; 4-bit buckets at 8 tables give ~2/3 expected
      // recall with candidate sets ~N/2. On clustered real embeddings
      // the same construction is sub-linear with far tighter buckets.
      (s, dir) => hyperplaneTopK(emb(s, dir), bits = 4, tables = 8)),

    // ---- N-adaptive hyperplane ANN (round-14 verdict task 5): the
    // SAME deterministic-plane construction, sized by annConfig instead
    // of the fixed 4×8 — above AnnPinnedN, bits grows with log2(N) to
    // hold ~32 vectors/bucket/table (per-query candidates ~tables·32,
    // ~constant in N) and tables hold the analytic per-neighbor miss
    // ≤ 1e-4 at the near-dup benchmark angle. At the oracle SFs the
    // sizing sits in its pinned branch ≡ sim_ann_hyperplane, so the
    // identical DuckDB oracle grades it bit-for-bit; the adaptive
    // branch is exercised by SimilaritySpec (recall on planted
    // canaries ≥ the fixed baseline with a fraction of its
    // candidates, past the pin cutoff) and by the ScaleStress row
    // (sub-linear vs the fixed family). The fixed queries stay
    // registered as the pinned recall baseline — their far-angle
    // calibration is a property this sizing deliberately trades away.
    Q(
      "sim_ann_adaptive",
      Some(hyperplaneTopKSql),
      (s, dir) => {
        val n = graft.Tables.footerRowCount(s, s"$dir/embeddings.parquet")
        val (bits, tables) = annConfig(n)
        // the oracle SQL hardcodes the pinned 4-bit × 8-table family; if
        // an oracle-dump run ever points at a corpus where annConfig
        // leaves the pinned branch (larger fixture, or an AnnPinnedN
        // edit), fail loudly at the source instead of letting Spark run
        // adaptive planes against a DuckDB replay of 4×8 (ADVICE r15)
        if (sys.props.get("graft.oracle.run").contains("true"))
          require((bits, tables) == (4, 8),
            s"sim_ann_adaptive: oracle SQL pins (bits=4, tables=8) but " +
              s"annConfig($n) gave ($bits, $tables) for $dir — " +
              "pinned-config violation")
        val e = emb(s, dir)
        // probe against the PERSISTED index (build-if-absent, see
        // hyperplaneIndex): the query measures probe cost; the
        // construction is a reusable committed artifact
        hyperplaneTopKFrom(e, hyperplaneIndex(s, dir, e, n, bits, tables))
      }),

    // multi-probe LSH ANN: same 8×4-bit tables as sim_ann_hyperplane, but
    // each QUERY additionally probes the `bits` single-bit-flip neighbor
    // buckets per table (5 probes/table). Near misses — a neighbor on the
    // wrong side of ONE hyperplane — land in a Hamming-1 bucket, so recall
    // rises steeply while the DATA side stays one bucket/table: candidate
    // cost grows on the bounded query side only (the standard trade from
    // the multi-probe LSH literature). Recall pinned in SimilaritySpec
    // strictly ≥ the single-probe run; the deterministic planes also
    // replay in DuckDB (same oracle as sim_ann_hyperplane plus the four
    // single-bit-flip probes on the query side).
    Q(
      "sim_ann_multiprobe",
      Some("""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings),
        tb AS (SELECT t AS tbl, b AS bit
               FROM (SELECT unnest(range(8)) AS t) _t,
                    (SELECT unnest(range(4)) AS b) _b),
        dots AS (
          SELECT e.vec_id, tb.tbl, tb.bit,
                 list_aggregate(list_transform(range(64), d ->
                   v[d + 1] * (((((tb.tbl * 4 + tb.bit) * 2654435761 % 1000003)
                                 * d + (tb.tbl * 4 + tb.bit) * 40503)
                                % 1000003)
                               / 1000003.0 - 0.5)), 'sum') AS dot
          FROM e CROSS JOIN tb),
        buckets AS (
          SELECT vec_id, tbl,
                 CAST(sum(CASE WHEN dot > 0 THEN 1 << bit ELSE 0 END)
                      AS BIGINT) AS bucket
          FROM dots GROUP BY 1, 2),
        q AS (SELECT q_id, tbl, unnest([bucket, xor(bucket, 1),
                xor(bucket, 2), xor(bucket, 4), xor(bucket, 8)]) AS bucket
              FROM (SELECT vec_id AS q_id, tbl, bucket
                    FROM buckets WHERE vec_id < 10)),
        cand AS (
          SELECT DISTINCT q.q_id, c.vec_id AS cand_id
          FROM buckets c JOIN q
            ON c.tbl = q.tbl AND c.bucket = q.bucket
           AND c.vec_id <> q.q_id),
        sc AS (SELECT cand.q_id, cand.cand_id,
                      list_cosine_similarity(qe.v, ce.v) AS cos
               FROM cand
               JOIN e qe ON qe.vec_id = cand.q_id
               JOIN e ce ON ce.vec_id = cand.cand_id),
        r AS (SELECT q_id, cand_id, cos,
                     row_number() OVER (PARTITION BY q_id
                       ORDER BY cos DESC, cand_id) AS rn
              FROM sc)
        SELECT q_id, cand_id, CAST(rn AS BIGINT) AS rn,
               round(cos, 6) AS cos_sim
        FROM r WHERE rn <= 5 ORDER BY q_id, rn"""),
      (s, dir) => {
        val e = emb(s, dir)
        val buckets = e.select(
          col("vec_id"), col("vec"),
          explode(transform(sequence(lit(0), lit(7)), t =>
            struct(t.as("tbl"),
              VectorExprs.lshBucket(col("vec"), t, bits = 4).as("bucket"))))
            .as("tb"))
          .select(col("vec_id"), col("vec"), col("tb.tbl"), col("tb.bucket"))
        val probeSet = array(
          (Seq(col("bucket")) ++
            (0 until 4).map(b => col("bucket").bitwiseXOR(lit(1L << b)))): _*)
        val q = buckets.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"),
            col("tbl").as("q_tbl"),
            explode(probeSet).as("q_bucket"))
        // id-only distinct + vector re-attach, same rationale (and same
        // oracle shape) as sim_ann_hyperplane above — multi-probe has
        // 5× the meeting multiplicity, so the vector-dragging sort was
        // 5× worse here
        val cand = buckets
          .join(broadcast(q),
            col("tbl") === col("q_tbl") && col("bucket") === col("q_bucket") &&
              col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id").as("cand_id"))
          .distinct()
        val w = Window.partitionBy("q_id")
          .orderBy(col("cos").desc, col("cand_id"))
        cand
          .join(e.select(col("vec_id").as("q_id"), col("vec").as("qv")),
            "q_id")
          .join(e.select(col("vec_id").as("cand_id"), col("vec").as("cv")),
            "cand_id")
          .withColumn("cos", VectorExprs.cosine(col("qv"), col("cv")))
          .select(col("q_id"), col("cand_id"),
            row_number().over(w).cast("long").as("rn"),
            round(col("cos"), 6).as("cos_sim"))
          .filter(col("rn") <= 5)
          .orderBy("q_id", "rn")
      }),

    // IVF-style ANN (the other scale path next to hyperplane-LSH): a
    // deterministic coarse quantizer (16 seed vectors as cell centroids),
    // every vector assigned to its nearest cell (inverted lists), queries
    // probe their 4 nearest cells, exact re-rank inside the probed cells.
    // At cluster scale the assignment is one broadcast-join pass and the
    // probe reads only nprobe/k of the data. Centroid-seeded and fully
    // deterministic → the cell assignment, probes, and re-rank replay in
    // DuckDB; recall additionally pinned in SimilaritySpec.
    Q(
      "sim_ivf_probe",
      Some("""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings),
        cents AS (SELECT vec_id AS cell, v AS cv FROM e WHERE vec_id < 16),
        asg AS (
          SELECT e.vec_id, cents.cell,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_cosine_similarity(e.v, cents.cv) DESC,
                            cents.cell) AS cell_rank
          FROM e CROSS JOIN cents),
        lists AS (SELECT vec_id, cell FROM asg WHERE cell_rank = 1),
        probes AS (SELECT vec_id AS q_id, cell
                   FROM asg WHERE vec_id < 10 AND cell_rank <= 4),
        cand AS (
          SELECT DISTINCT p.q_id, l.vec_id AS cand_id,
                 list_cosine_similarity(qe.v, ce.v) AS cos
          FROM lists l JOIN probes p USING (cell)
          JOIN e qe ON qe.vec_id = p.q_id
          JOIN e ce ON ce.vec_id = l.vec_id
          WHERE l.vec_id <> p.q_id),
        r AS (SELECT q_id, cand_id, cos,
                     row_number() OVER (PARTITION BY q_id
                       ORDER BY cos DESC, cand_id) AS rn
              FROM cand)
        SELECT q_id, cand_id, CAST(rn AS BIGINT) AS rn,
               round(cos, 6) AS cos_sim
        FROM r WHERE rn <= 5 ORDER BY q_id, rn"""),
      (s, dir) => {
        import graft.functions.VectorExprs
        val e = emb(s, dir)
        val cents = e.filter(col("vec_id") < 16)
          .select(col("vec_id").as("cell"), col("vec").as("cv_cent"))
        def assign(df: DataFrame, keep: Int): DataFrame = {
          val w = Window.partitionBy("vec_id")
            .orderBy(col("cell_cos").desc, col("cell"))
          df.crossJoin(broadcast(cents))
            .withColumn("cell_cos",
              VectorExprs.cosine(col("vec"), col("cv_cent")))
            .withColumn("cell_rank", row_number().over(w))
            .filter(col("cell_rank") <= keep)
            .select(col("vec_id"), col("vec"), col("cell"))
        }
        val lists = assign(e, keep = 1) // inverted lists: one cell per vector
        val probes = assign(e.filter(col("vec_id") < 10), keep = 4)
          .select(col("vec_id").as("q_id"), col("vec").as("qv"), col("cell"))
        val w = Window.partitionBy("q_id")
          .orderBy(col("cos").desc, col("cand_id"))
        lists
          .join(broadcast(probes), Seq("cell"))
          .filter(col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id").as("cand_id"),
            VectorExprs.cosine(col("qv"), col("vec")).as("cos"))
          .dropDuplicates("q_id", "cand_id", "cos")
          .select(col("q_id"), col("cand_id"),
            row_number().over(w).cast("long").as("rn"),
            round(col("cos"), 6).as("cos_sim"))
          .filter(col("rn") <= 5)
          .orderBy("q_id", "rn")
      }),

    // typed Aggregator (UDAF, SURVEY §2.6 U2): per-label centroid, exploded
    // to (label, dim) so DuckDB can verify element-wise.
    Q(
      "emb_centroid_by_label",
      Some("""
        SELECT CAST(label AS BIGINT) AS label, CAST(i AS BIGINT) AS dim_idx,
               round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS centroid_val
        FROM embeddings,
             unnest(range(1, len(embedding) + 1)) AS t(i)
        GROUP BY 1, 2 ORDER BY 1, 2"""),
      (s, dir) => {
        val vecAvg = udaf(new Vectors.VectorAvg(),
          org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]())
        emb(s, dir)
          .groupBy(col("label").cast("long").as("label"))
          .agg(vecAvg(col("vec")).as("centroid"))
          .select(col("label"), posexplode(col("centroid")))
          .select(col("label"), (col("pos") + 1).cast("long").as("dim_idx"),
            round(col("col"), 6).as("centroid_val"))
          .orderBy("label", "dim_idx")
      }),

    // int8 quantization (the storage/serving compression step of an
    // embedding pipeline): per-vector max-abs scale, symmetric round to
    // [-127,127], reconstruction-error audit per label. Pure per-row HOFs
    // — NO shuffle until the final bounded label aggregation, so the op
    // streams at scan speed at any scale. Error/scale sums are integerized
    // (1e9/1e6 fixed point) so the label sums are order-independent and
    // hash-exact against DuckDB.
    Q(
      "emb_quantize_int8",
      Some("""
        WITH pv AS (
          SELECT label, vec_id, v,
                 list_aggregate(list_transform(v, x -> abs(x)), 'max') AS scale
          FROM (SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings)),
        e AS (SELECT label, scale,
                list_aggregate(list_transform(v,
                  x -> abs(x - round(x * 127 / scale) * scale / 127)), 'max')
                  AS max_err
              FROM pv)
        SELECT CAST(label AS BIGINT) AS label, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(round(max_err * 1e9) AS BIGINT)) AS BIGINT)
                 AS err_nanos,
               CAST(sum(CAST(round(scale * 1e6) AS BIGINT)) AS BIGINT)
                 AS scale_micros
        FROM e GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        val vec = col("embedding").cast("array<double>")
        val sc = array_max(transform(vec, x => abs(x)))
        Tables.load(s, dir, "embeddings")
          .select(col("label").cast("long").as("label"), vec.as("v"),
            sc.as("scale"))
          .select(col("label"), col("scale"),
            array_max(transform(col("v"), x =>
              abs(x - round(x * 127 / col("scale")) * col("scale") / 127)))
              .as("max_err"))
          .groupBy("label")
          .agg(count(lit(1)).as("n"),
            sum(round(col("max_err") * 1e9).cast("long")).as("err_nanos"),
            sum(round(col("scale") * 1e6).cast("long")).as("scale_micros"))
          .orderBy("label")
      }),

    // ---- hybrid retrieval via reciprocal-rank fusion: a lexical leg
    // (query-term frequency rank over documents) fused with a vector leg
    // (cosine rank against a query embedding) as
    // rrf = Σ 1e9 div (60 + rank), integer arithmetic so both engines
    // fuse identically. Each leg is capped at its top-100 BEFORE fusion
    // — at scale the caps come from an inverted index / ANN probe (the
    // bm25 and LSH queries), so the global rank windows only ever see
    // bounded candidate lists; the full-outer join handles docs present
    // in one leg only. doc_id and vec_id share the id space (TESTDATA). ----
    Q(
      "retrieval_hybrid_rrf",
      Some("""
        WITH toks AS (SELECT doc_id,
                        unnest(list_filter(string_split(text, ' '),
                                           x -> x <> '')) AS term
                      FROM documents),
        lex0 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS lex_tf
                 FROM toks WHERE term IN ('spark', 'window', 'slow')
                 GROUP BY 1),
        lex AS (SELECT doc_id,
                       row_number() OVER (ORDER BY lex_tf DESC, doc_id) AS lr
                FROM lex0 QUALIFY lr <= 100),
        vec0 AS (SELECT vec_id AS doc_id,
                        list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                          (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
                           WHERE vec_id = 0)) AS cos
                 FROM embeddings WHERE vec_id <> 0),
        vec AS (SELECT doc_id,
                       row_number() OVER (ORDER BY cos DESC, doc_id) AS vr
                FROM vec0 QUALIFY vr <= 100)
        SELECT doc_id,
               CAST(COALESCE(1000000000 // (60 + lr), 0)
                  + COALESCE(1000000000 // (60 + vr), 0) AS BIGINT)
                 AS rrf_score
        FROM lex FULL OUTER JOIN vec USING (doc_id)
        ORDER BY rrf_score DESC, doc_id LIMIT 20"""),
      (s, dir) => {
        // per-leg cap via distributed top-k (TakeOrderedAndProject),
        // then ranks over the bounded 100-row frame — no full-leg
        // single-partition sort (Ranking.topKRanked scaladoc)
        val lex = Ranking.topKRanked(
          Tables.load(s, dir, "documents")
            .select(col("doc_id"),
              explode(split(col("text"), " ")).as("term"))
            .filter(col("term").isin("spark", "window", "slow"))
            .groupBy("doc_id").agg(count(lit(1)).as("lex_tf")),
          100, "lr", col("lex_tf").desc, col("doc_id"))
          .select("doc_id", "lr")
        val e = emb(s, dir)
        val q = e.filter(col("vec_id") === 0)
          .select(col("vec_id").as("q_id"), col("vec").as("qv"))
        val vec = Ranking.topKRanked(
          e.filter(col("vec_id") =!= 0)
            .join(broadcast(q), col("q_id") =!= col("vec_id"))
            .withColumn("cos", VectorExprs.cosine(col("qv"), col("vec")))
            .select(col("vec_id").as("doc_id"), col("cos")),
          100, "vr", col("cos").desc, col("doc_id"))
          .select("doc_id", "vr")
        lex.join(vec, Seq("doc_id"), "full_outer")
          .select(col("doc_id"),
            (coalesce(expr("1000000000 div (60 + lr)"), lit(0L)) +
             coalesce(expr("1000000000 div (60 + vr)"), lit(0L)))
              .cast("long").as("rrf_score"))
          .orderBy(col("rrf_score").desc, col("doc_id"))
          .limit(20)
      }),

    Q(
      "emb_norm_stats_by_label",
      Some("""
        SELECT CAST(label AS BIGINT) AS label,
               CAST(count(*) AS BIGINT) AS n,
               round(avg(sqrt(list_aggregate(
                 list_transform(CAST(embedding AS DOUBLE[]), x -> x * x),
                 'sum'))), 6) AS avg_norm
        FROM embeddings GROUP BY 1 ORDER BY 1"""),
      (s, dir) =>
        emb(s, dir)
          .groupBy(col("label").cast("long").as("label"))
          .agg(
            count(lit(1)).as("n"),
            round(avg(Vectors.norm(col("vec"))), 6).as("avg_norm"))
          .orderBy("label")),

    // ---- product quantization + ADC scan + exact re-rank (Jégou et
    // al., PAMI 2011): 64 dims → M=8 subspaces × 8 dims, one 16-entry
    // codebook per subspace, so each vector compresses to 8 nibbles
    // (512→8 bytes, 64×). Query path is the standard two-stage: (1)
    // Asymmetric Distance Computation over ALL codes — per query one
    // 8×16 lookup table, approx dist = Σ_m table[m][code_x[m]] — keeps a
    // top-100 shortlist; (2) exact re-rank of the shortlist on the raw
    // vectors → top-5. Codebooks are data-derived but DETERMINISTIC —
    // the 16 anchor vectors with smallest md5(vec_id) — and every
    // distance is one explicit left-to-right expression with fixed-point
    // (1e-12 grid) accumulation, so the ENTIRE pipeline (codebooks,
    // encoding argmin, ADC shortlist, re-rank) replays in DuckDB and the
    // row is hash-oracled, unlike the hash-seeded ANN family.
    // SimilaritySpec pins recall vs the exact top-5 and the codebook
    // self-consistency; the production trade vs k-means codebooks is
    // recall, not shape.
    //
    // Scale: encode = one scan × broadcast 128-row codebook; the scan
    // side never shuffles. Queries carry a broadcast 1280-row LUT; the
    // ADC aggregation is map-side-combinable; the exact re-rank touches
    // only |queries|×100 raw vectors. 100 TB of vectors stream through
    // as 8-byte codes — that compression IS the reason PQ wins at scale. ----
    Q(
      "sim_pq_adc", {
        def d2m(a: String, b: String) =
          (0 until 8).map(i => s"($a[m*8+$i+1] - $b[m*8+$i+1])" +
            s" * ($a[m*8+$i+1] - $b[m*8+$i+1])").mkString(" + ")
        def d2full(a: String, b: String) =
          (1 to 64).map(i => s"($a[$i] - $b[$i]) * ($a[$i] - $b[$i])")
            .mkString(" + ")
        Some(s"""
          WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec
                     FROM embeddings),
          anch AS (
            SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id)
                     - 1 AS rk,
                   vec AS avec
            FROM e ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 16),
          sub AS (SELECT unnest(range(0, 8)) AS m),
          encd AS (
            SELECT d.vec_id, s.m, a.rk, ${d2m("d.vec", "a.avec")} AS d2
            FROM e d CROSS JOIN sub s CROSS JOIN anch a),
          codes AS (
            SELECT vec_id, m,
                   min(CAST(round(d2 * 1e12) AS BIGINT) * 16 + rk) % 16
                     AS code
            FROM encd GROUP BY vec_id, m),
          qtab AS (
            SELECT q.vec_id AS q_id, s.m, a.rk,
                   CAST(round((${d2m("q.vec", "a.avec")}) * 1e12) AS BIGINT)
                     AS qd2
            FROM e q CROSS JOIN sub s CROSS JOIN anch a
            WHERE q.vec_id < 10),
          adc AS (
            SELECT t.q_id, c.vec_id AS cand_id, sum(t.qd2) AS qsum
            FROM codes c JOIN qtab t ON t.m = c.m AND t.rk = c.code
            WHERE c.vec_id <> t.q_id GROUP BY 1, 2),
          short AS (
            SELECT q_id, cand_id, qsum FROM (
              SELECT q_id, cand_id, qsum,
                     row_number() OVER (PARTITION BY q_id
                                        ORDER BY qsum, cand_id) AS rn
              FROM adc) WHERE rn <= 100),
          rr AS (
            SELECT sh.q_id, sh.cand_id, sh.qsum,
                   CAST(round((${d2full("q.vec", "c.vec")}) * 1e12) AS BIGINT)
                     AS qexact
            FROM short sh
            JOIN e q ON q.vec_id = sh.q_id
            JOIN e c ON c.vec_id = sh.cand_id)
          SELECT q_id, cand_id, CAST(rn AS BIGINT) AS rn, exact_d2, adc_d2
          FROM (
            SELECT q_id, cand_id,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY qexact, cand_id) AS rn,
                   round(CAST(qexact AS DOUBLE) / 1e12, 6) AS exact_d2,
                   round(CAST(qsum AS DOUBLE) / 1e12, 6) AS adc_d2
            FROM rr)
          WHERE rn <= 5 ORDER BY q_id, rn""")
      },
      (s, dir) => {
        val e = emb(s, dir)
        def d2m(a: Column, b: Column): Column =
          (0 until 8).map { i =>
            val d = element_at(a, (col("m") * 8 + i + 1).cast("int")) -
              element_at(b, (col("m") * 8 + i + 1).cast("int"))
            d * d
          }.reduce(_ + _)
        def d2full(a: Column, b: Column): Column =
          (1 to 64).map { i =>
            val d = element_at(a, i) - element_at(b, i)
            d * d
          }.reduce(_ + _)
        // deterministic codebook: 16 smallest-md5 anchors × 8 subspaces,
        // a 128-row broadcast dim
        // constant non-foldable partition over the 16-row anchor frame:
        // same single partition, no "No Partition Defined" warning
        val hw = Window.partitionBy(pmod(hash(col("vec_id")), lit(1)))
          .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
        val anch = e
          .select(col("vec_id"), col("vec"),
            md5(col("vec_id").cast("string")).as("h"))
          .orderBy("h", "vec_id").limit(16)
          .select((row_number().over(hw) - 1).as("rk"), col("vec").as("avec"))
        val anchSub = anch.crossJoin(
          s.range(8).select(col("id").cast("int").as("m")))
        // encode: argmin codebook entry per (vector, subspace). ONE
        // packed BIGINT key (round(d2·1e12)·16 + rk — the query's own
        // fixed-point scale, already the cross-engine precedent via
        // qd2): min(key) % 16 decodes the code. The previous
        // min(struct(d2, rk)) was the deterministic argmin too, but a
        // struct buffer is not UnsafeRow-mutable so it silently planned
        // as SortAggregate over the N×8×16 encode stream (PlanSmells
        // audit catch — same trap as dedup_semantic_cells). Ties now
        // resolve identically on both engines: equal fixed-point d2 →
        // lowest rk wins, packed into the integer order.
        // PACKING RANGE BOUND: the key is valid iff subspace
        // d2 ≤ (2⁶³−16)/16/1e12 ≈ 5.76e5 — normalized-embedding d2 here
        // is ≤ ~4·dim ≈ 256, three orders inside it. Past the bound
        // Spark's cast SATURATES to Long.MaxValue and ·16 wraps
        // NEGATIVE (where DuckDB raises on the same overflow), so the
        // post-agg guard below turns the saturated regime into the same
        // loud error instead of silently electing the farthest anchor.
        // (A d2 in the narrow (5.76e5, 9.2e6] window can wrap positive
        // undetected — documented as outside the fixed-point contract;
        // the guard sits on the N×8 post-agg rows, not the encode
        // stream, so the hot path is untouched.)
        val codes = e.crossJoin(broadcast(anchSub))
          .select(col("vec_id"), col("m"),
            (round(d2m(col("vec"), col("avec")) * 1e12).cast("long") * 16 +
              col("rk")).as("pk"))
          .groupBy("vec_id", "m")
          .agg(min("pk").as("minpk"))
          .select(col("vec_id"), col("m"),
            when(col("minpk") < 0, raise_error(lit(
              "sim_pq_adc: packed argmin key wrapped negative — subspace " +
                "d2 exceeded the 5.76e5 fixed-point bound")).cast("long"))
              .otherwise(col("minpk") % 16).as("code"))
        // per-query ADC lookup table, fixed-point (see header)
        val qtab = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("vec").as("qv"))
          .crossJoin(broadcast(anchSub))
          .select(col("q_id"), col("m").as("qm"), col("rk"),
            round(d2m(col("qv"), col("avec")) * 1e12).cast("long").as("qd2"))
        val wAdc = Window.partitionBy("q_id")
          .orderBy(col("qsum"), col("cand_id"))
        val short = codes
          .join(broadcast(qtab),
            col("qm") === col("m") && col("rk") === col("code") &&
              col("vec_id") =!= col("q_id"))
          .groupBy(col("q_id"), col("vec_id").as("cand_id"))
          .agg(sum("qd2").as("qsum"))
          .withColumn("rn", row_number().over(wAdc))
          .filter(col("rn") <= 100)
          .drop("rn")
        // exact re-rank of the shortlist on raw vectors
        val wEx = Window.partitionBy("q_id")
          .orderBy(col("qexact"), col("cand_id"))
        short
          .join(e.select(col("vec_id").as("q_id"), col("vec").as("qv")),
            "q_id")
          .join(e.select(col("vec_id").as("cand_id"), col("vec").as("cv")),
            "cand_id")
          .withColumn("qexact",
            round(d2full(col("qv"), col("cv")) * 1e12).cast("long"))
          .select(col("q_id"), col("cand_id"),
            row_number().over(wEx).cast("long").as("rn"),
            round(col("qexact").cast("double") / 1e12, 6).as("exact_d2"),
            round(col("qsum").cast("double") / 1e12, 6).as("adc_d2"))
          .filter(col("rn") <= 5)
          .orderBy("q_id", "rn")
      }),

    // ---- k-NN classification: the retrieval→label step (label a new
    // item by majority vote of its 5 nearest labeled neighbors). Same
    // broadcast-query-set/candidate-stream shape as sim_bruteforce_topk
    // (whose green rn column already pins cross-engine ORDERING parity
    // of the cosine), plus an exact integer vote with label-ascending
    // tie-break. At scale the candidate leg swaps for any of the ANN
    // legs (same interface: top-k per query) — the vote is unchanged. ----
    Q(
      "ml_knn_classify",
      Some("""
        WITH q AS (SELECT vec_id AS q_id, label AS true_label,
                          CAST(embedding AS DOUBLE[]) AS qv
                   FROM embeddings WHERE vec_id < 10),
        c AS (SELECT vec_id AS cand_id, label,
                     CAST(embedding AS DOUBLE[]) AS cv
              FROM embeddings),
        sc AS (SELECT q_id, true_label, cand_id, label,
                      list_cosine_similarity(qv, cv) AS cos
               FROM q CROSS JOIN c WHERE q_id <> cand_id),
        r AS (SELECT q_id, true_label, label,
                     row_number() OVER (PARTITION BY q_id
                       ORDER BY cos DESC, cand_id) AS rn
              FROM sc),
        v AS (SELECT q_id, true_label, label, count(*) AS votes
              FROM r WHERE rn <= 5 GROUP BY 1, 2, 3),
        p AS (SELECT q_id, true_label, label AS pred, votes,
                     row_number() OVER (PARTITION BY q_id
                       ORDER BY votes DESC, label) AS pr
              FROM v)
        SELECT q_id, CAST(pred AS BIGINT) AS pred,
               CAST(votes AS BIGINT) AS votes,
               CAST(true_label AS BIGINT) AS true_label,
               CAST(CASE WHEN pred = true_label THEN 1 ELSE 0 END
                    AS BIGINT) AS correct
        FROM p WHERE pr = 1 ORDER BY q_id"""),
      (s, dir) => {
        val e = emb(s, dir)
        val q = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("label").as("true_label"),
            col("vec").as("qv"))
        val c = e.select(col("vec_id").as("cand_id"),
          col("label"), col("vec").as("cv"))
        val wNn = Window.partitionBy("q_id")
          .orderBy(col("cos").desc, col("cand_id"))
        val nn = c.join(broadcast(q), col("q_id") =!= col("cand_id"))
          .withColumn("cos", VectorExprs.cosine(col("qv"), col("cv")))
          .withColumn("rn", row_number().over(wNn))
          .filter(col("rn") <= 5)
        val wVote = Window.partitionBy("q_id")
          .orderBy(col("votes").desc, col("label"))
        nn.groupBy("q_id", "true_label", "label")
          .agg(count(lit(1)).as("votes"))
          .withColumn("pr", row_number().over(wVote))
          .filter(col("pr") === 1)
          .selectExpr("q_id", "CAST(label AS BIGINT) AS pred",
            "CAST(votes AS BIGINT) AS votes",
            "CAST(true_label AS BIGINT) AS true_label",
            "CAST(CASE WHEN label = true_label THEN 1 ELSE 0 END " +
              "AS BIGINT) AS correct")
          .orderBy("q_id")
      }),

    // ---- Ranking-quality evaluation (NDCG / precision / recall / MRR
    // at k) for the lexical retrieval leg — the eval tier every
    // retrieval pipeline runs before trusting a ranker (Järvelin &
    // Kekäläinen 2002). Relevance is DETERMINISTIC binary: a doc is
    // relevant iff it contains ALL query terms (conjunctive
    // containment), so both engines agree on the label without any
    // judgment data. Numeric discipline: each DCG term 1/ln(rank+1) is
    // floored to integer NANOS before summing (the ln-DCG variant —
    // same ordering as log2-DCG, constant factor off; integer sums are
    // order-independent), precision/recall/MRR/NDCG are integer
    // floor-divisions of exact BIGINTs. Scale: the corpus contributes
    // one term-filtered agg + a top-20 (TakeOrderedAndProject) and a
    // 1-row relevance census; every metric computes on ≤ 20×3 rows
    // against broadcast 1-row totals. ----
    Q(
      "retrieval_ndcg_eval",
      Some("""
        WITH rel AS (
          SELECT doc_id,
                 list_contains(string_split(text, ' '), 'spark')
                 AND list_contains(string_split(text, ' '), 'window')
                 AND list_contains(string_split(text, ' '), 'slow') AS rel
          FROM documents),
        rtot AS (SELECT count(*) AS r FROM rel WHERE rel),
        lex0 AS (SELECT doc_id, count(*) AS lex_tf
                 FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                       FROM documents)
                 WHERE term IN ('spark', 'window', 'slow') GROUP BY 1),
        ranked AS (SELECT doc_id, lex_tf,
                          row_number() OVER (ORDER BY lex_tf DESC, doc_id)
                            AS rank
                   FROM lex0 QUALIFY rank <= 20),
        ks AS (SELECT unnest([5, 10, 20]) AS k),
        m AS (SELECT k,
                     CAST(count(*) FILTER (WHERE rel) AS BIGINT) AS hits,
                     CAST(coalesce(sum(CASE WHEN rel THEN
                       CAST(floor(1e9 / ln(rank + 1)) AS BIGINT) END), 0)
                       AS BIGINT) AS dcg_nano,
                     min(CASE WHEN rel THEN rank END) AS minrank
              FROM ranked JOIN rel USING (doc_id) CROSS JOIN ks
              WHERE rank <= k GROUP BY k),
        i AS (SELECT k,
                     CAST(list_aggregate(list_transform(
                       range(1, least(k, r) + 1),
                       x -> CAST(floor(1e9 / ln(x + 1)) AS BIGINT)), 'sum')
                       AS BIGINT) AS idcg_nano,
                     r
              FROM ks CROSS JOIN rtot)
        SELECT CAST(m.k AS BIGINT) AS k, hits,
               CAST(hits * 1000000 // m.k AS BIGINT) AS precision_micro,
               CAST(hits * 1000000 // i.r AS BIGINT) AS recall_micro,
               dcg_nano, idcg_nano,
               CAST(CASE WHEN idcg_nano > 0
                    THEN dcg_nano * 1000000 // idcg_nano ELSE 0 END
                 AS BIGINT) AS ndcg_micro,
               CAST(coalesce(1000000 // minrank, 0) AS BIGINT) AS mrr_micro
        FROM m JOIN i USING (k) ORDER BY k"""),
      (s, dir) => {
        val terms = Seq("spark", "window", "slow")
        val d = Tables.load(s, dir, "documents")
        val relFlag = terms
          .map(w => array_contains(split(col("text"), " "), w))
          .reduce(_ && _)
        val rel = d.select(col("doc_id"), relFlag.as("rel"))
        val rtot = rel.filter(col("rel")).agg(count(lit(1)).as("r"))
        val ranked = Ranking.topKRanked(
          d.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
            .filter(col("term").isin(terms: _*))
            .groupBy("doc_id").agg(count(lit(1)).as("lex_tf")),
          20, "rank", col("lex_tf").desc, col("doc_id"))
        val ks = s.createDataFrame(Seq(5, 10, 20).map(Tuple1(_))).toDF("k")
        // 20 ranked rows × 3 cutoffs; relevance joins in via the
        // broadcast 20-row frame, totals ride broadcast 1-row frames
        val m = rel.join(broadcast(ranked), "doc_id")
          .crossJoin(broadcast(ks))
          .filter(col("rank") <= col("k"))
          .groupBy("k")
          .agg(
            sum(when(col("rel"), 1L).otherwise(0L)).as("hits"),
            coalesce(sum(when(col("rel"),
              floor(lit(1e9) / log(col("rank") + 1)))), lit(0L))
              .as("dcg_nano"),
            min(when(col("rel"), col("rank"))).as("minrank"))
        m.crossJoin(broadcast(rtot))
          .select(
            col("k").cast("long").as("k"),
            col("hits").cast("long").as("hits"),
            expr("hits * 1000000 div k").as("precision_micro"),
            expr("hits * 1000000 div r").as("recall_micro"),
            col("dcg_nano").cast("long").as("dcg_nano"),
            // r = 0 guard: Spark's sequence(1, 0) is the DESCENDING
            // [1, 0] and the x = 0 term divides by ln(1) = 0 —
            // Infinity whose floor overflows the nano sum — while the
            // oracle's range(1, 1) is empty and sums to NULL. Gate the
            // whole ideal-DCG on r > 0 so a corpus with zero relevant
            // docs yields NULL idcg on both engines.
            when(col("r") > 0,
              aggregate(
                transform(
                  sequence(lit(1L), least(col("k").cast("long"), col("r"))),
                  x => floor(lit(1e9) / log(x.cast("double") + 1))),
                lit(0L), (a, x) => a + x)).as("idcg_nano"),
            col("minrank"))
          .select(
            col("k"), col("hits"), col("precision_micro"),
            col("recall_micro"), col("dcg_nano"), col("idcg_nano"),
            when(col("idcg_nano") > 0,
              expr("dcg_nano * 1000000 div idcg_nano")).otherwise(0L)
              .cast("long").as("ndcg_micro"),
            coalesce(expr("1000000 div minrank"), lit(0L))
              .cast("long").as("mrr_micro"))
          .orderBy("k")
      }),

    // ---- Ranker agreement: Kendall τ-a between the lexical and vector
    // retrieval legs over the docs BOTH rank in their top-100 — the
    // measurement that motivates reciprocal-rank fusion (low τ ⇒ the
    // legs disagree ⇒ fusing them adds recall; the legs here are
    // exactly retrieval_hybrid_rrf's). Both restricted rankings are
    // total orders (deterministic doc_id tiebreaks), so the
    // concordant/discordant pair counts are EXACT integers on both
    // engines; τ = (C − D)/(n(n−1)/2) is emitted as a truncation-
    // toward-zero micro ratio (sign split keeps Spark's `div` and
    // DuckDB's `//` in agreement on negative values). Scale: each leg
    // is agg + distributed top-k; the τ computation is a ≤100-row
    // broadcast self-join (≤4,950 pairs) — nothing corpus-sized ever
    // pairs up. ----
    Q(
      "retrieval_rank_correlation",
      Some("""
        WITH lex0 AS (SELECT doc_id, count(*) AS lex_tf
                      FROM (SELECT doc_id,
                              unnest(list_filter(string_split(text, ' '),
                                x -> x <> '')) AS term
                            FROM documents)
                      WHERE term IN ('spark', 'window', 'slow') GROUP BY 1),
        lex AS (SELECT doc_id,
                       row_number() OVER (ORDER BY lex_tf DESC, doc_id) AS lr
                FROM lex0 QUALIFY lr <= 100),
        vec0 AS (SELECT vec_id AS doc_id,
                        list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                          (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
                           WHERE vec_id = 0)) AS cos
                 FROM embeddings WHERE vec_id <> 0),
        vec AS (SELECT doc_id,
                       row_number() OVER (ORDER BY cos DESC, doc_id) AS vr
                FROM vec0 QUALIFY vr <= 100),
        c AS (SELECT doc_id, lr, vr FROM lex JOIN vec USING (doc_id)),
        p AS (SELECT CASE WHEN (a.lr < b.lr) = (a.vr < b.vr)
                          THEN 1 ELSE 0 END AS con
              FROM c a JOIN c b ON a.doc_id < b.doc_id)
        SELECT CAST((SELECT count(*) FROM c) AS BIGINT) AS n_common,
               CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(coalesce(sum(con), 0) AS BIGINT) AS concordant,
               CAST(count(*) - coalesce(sum(con), 0) AS BIGINT)
                 AS discordant,
               CAST(CASE WHEN count(*) = 0 THEN 0
                    WHEN coalesce(sum(con), 0) * 2 >= count(*)
                    THEN (coalesce(sum(con), 0) * 2 - count(*)) * 1000000
                         // count(*)
                    ELSE -((count(*) - coalesce(sum(con), 0) * 2) * 1000000
                           // count(*)) END AS BIGINT) AS tau_micro
        FROM p"""),
      (s, dir) => {
        val lex = Ranking.topKRanked(
          Tables.load(s, dir, "documents")
            .select(col("doc_id"),
              explode(split(col("text"), " ")).as("term"))
            .filter(col("term").isin("spark", "window", "slow"))
            .groupBy("doc_id").agg(count(lit(1)).as("lex_tf")),
          100, "lr", col("lex_tf").desc, col("doc_id"))
          .select("doc_id", "lr")
        val e = emb(s, dir)
        val q = e.filter(col("vec_id") === 0)
          .select(col("vec_id").as("q_id"), col("vec").as("qv"))
        val vec = Ranking.topKRanked(
          e.filter(col("vec_id") =!= 0)
            .join(broadcast(q), col("q_id") =!= col("vec_id"))
            .withColumn("cos", VectorExprs.cosine(col("qv"), col("vec")))
            .select(col("vec_id").as("doc_id"), col("cos")),
          100, "vr", col("cos").desc, col("doc_id"))
          .select("doc_id", "vr")
        val c = lex.join(vec, "doc_id").select("doc_id", "lr", "vr")
        val p = c.as("a")
          .join(broadcast(c.as("b")), col("a.doc_id") < col("b.doc_id"))
          .select(when((col("a.lr") < col("b.lr")) ===
            (col("a.vr") < col("b.vr")), 1L).otherwise(0L).as("con"))
        val nC = c.agg(count(lit(1)).as("n_common"))
        p.agg(
          count(lit(1)).as("n_pairs"),
          coalesce(sum("con"), lit(0L)).as("concordant"))
          .crossJoin(broadcast(nC))
          .select(
            col("n_common").cast("long").as("n_common"),
            col("n_pairs").cast("long").as("n_pairs"),
            col("concordant").cast("long").as("concordant"),
            (col("n_pairs") - col("concordant")).cast("long")
              .as("discordant"),
            when(col("n_pairs") === 0, 0L)
              .when(col("concordant") * 2 >= col("n_pairs"),
                expr("(concordant * 2 - n_pairs) * 1000000 div n_pairs"))
              .otherwise(
                -expr("(n_pairs - concordant * 2) * 1000000 div n_pairs"))
              .cast("long").as("tau_micro"))
      })
  )
}
