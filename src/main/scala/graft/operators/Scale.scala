package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Q, QueryModule, Tables}

/** Scale-technique operators: the shuffle-reduction and skew-diagnosis
  * tools a 100 TB deployment leans on, each expressed so the technique is
  * visible in the physical plan (PlanShapeSpec pins the shapes) while the
  * RESULT stays exactly oracle-checkable — the approximate structure
  * (bloom filter, grid buckets) only prunes; an exact predicate or join
  * always re-verifies, so DuckDB parity is by construction.
  *
  * Reference scope: the reference exposes its analytics through full
  * Spark SQL (docker-compose.yml:70-88); these are the operators its
  * users would reach for once the lakehouse grows past one machine.
  *
  * Scale notes (100 TB stance):
  *   - join_bloom_prefilter: the manual form of runtime row-level
  *     filtering — build an O(bits) sketch of the selective build side,
  *     broadcast it, and drop non-matching probe rows BEFORE the shuffle.
  *     At 100 TB the win is shuffle bytes: only ~sel+fpp of the fact
  *     table is exchanged. False positives are removed by the exact join
  *     that follows, so the result is identical to the plain join.
  *   - join_spatial_grid: radius search as a grid-cell equi-join. Each
  *     data point lands in exactly ONE cell (one shuffle on cell id);
  *     the query side replicates ×9 to the neighbor cells. cell=64 >
  *     radius=60 guarantees every qualifying pair shares a probed cell —
  *     no all-pairs, no cartesian, and the exact distance predicate
  *     re-checks every candidate. The standard scale shape for
  *     spatial/embedding bucket joins.
  *   - quality_key_skew_profile: one aggregation pass that answers "is
  *     this key safe to shuffle on" — max/p99/p50 per-key row counts and
  *     a skew factor (max-key share × key count). At 100 TB you run this
  *     BEFORE choosing join strategy; it is the measurement behind the
  *     salted-join decision (join_skew_salted_dim).
  *   - the regr/mode/ignore-nulls families are single-pass grouped
  *     aggregates / windows — map-side partial agg, one exchange, no
  *     extra passes (mode and median use Spark's typed-imperative forms;
  *     regr_* are codegen'd DeclarativeAggregates).
  */
object Scale extends QueryModule {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  val all: Seq[Q] = Seq(

    // ---- bloom-filter pre-filtered join (manual runtime filter) ----
    // The bloom sketch is built by one aggregate over the selective
    // build side and reaches the probe scan as a SCALAR SUBQUERY —
    // Spark evaluates it once and ships the ~128 KB bit array to every
    // probe task as a literal, exactly the shape the engine's own
    // InjectRuntimeFilter produces (might_contain requires constant-or-
    // scalar-subquery bloom input by design). Sizing: 1<<20 bits for
    // ≤50k expected keys keeps fpp ≪ 1% at bench scale; at 100 TB you
    // size bits from the build-side CBO row-count estimate.
    Q(
      "join_bloom_prefilter",
      Some("""
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                 AS revenue_cents
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_totalprice > 400000
        GROUP BY 1
        ORDER BY 1"""),
      (s, dir) => {
        Tables.registerViews(s, dir)
        s.sql("""
          WITH hi AS (SELECT o_orderkey, o_orderpriority FROM orders
                      WHERE o_totalprice > 400000),
               pre AS (
                 SELECT l_orderkey, l_extendedprice FROM lineitem
                 WHERE might_contain(
                   (SELECT bloom_filter_agg(xxhash64(o_orderkey),
                                            50000L, 1048576L) FROM hi),
                   xxhash64(l_orderkey)))
          SELECT o_orderpriority,
                 CAST(count(*) AS BIGINT) AS n_lines,
                 CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                   AS BIGINT) AS revenue_cents
          FROM pre JOIN hi ON l_orderkey = o_orderkey
          GROUP BY 1
          ORDER BY 1""")
      }),

    // ---- grid-bucketed spatial radius join ----
    // Deterministic integer point coordinates derived from the keys (the
    // same arithmetic runs in the oracle), so the distance predicate is
    // BIGINT-exact on both engines. Data side: one 64×64 cell per point.
    // Query side: 3×3 neighbor cells (radius 60 < cell 64 ⟹ complete).
    // Each (query, point) pair meets in at most one cell — no dedup
    // needed after the equi-join.
    Q(
      "join_spatial_grid",
      Some("""
        WITH cp AS (SELECT (c_custkey*37)%1000 AS px, (c_custkey*61)%1000 AS py
                    FROM customer),
             sp AS (SELECT s_suppkey, (s_suppkey*41)%1000 AS qx,
                           (s_suppkey*73)%1000 AS qy
                    FROM supplier)
        SELECT s_suppkey,
               CAST(count(*) AS BIGINT) AS n_neighbors,
               CAST(min((px-qx)*(px-qx)+(py-qy)*(py-qy)) AS BIGINT) AS min_d2
        FROM sp JOIN cp
          ON (px-qx)*(px-qx)+(py-qy)*(py-qy) <= 3600
        GROUP BY 1
        ORDER BY 1"""),
      (s, dir) => {
        val points = t(s, dir, "customer").select(
          (col("c_custkey") * 37 % 1000).as("px"),
          (col("c_custkey") * 61 % 1000).as("py"))
          .withColumn("cell",
            shiftright(col("px"), 6) * 16 + shiftright(col("py"), 6))
        val probes = t(s, dir, "supplier").select(
          col("s_suppkey"),
          (col("s_suppkey") * 41 % 1000).as("qx"),
          (col("s_suppkey") * 73 % 1000).as("qy"))
          .withColumn("dcx", explode(array(lit(-1L), lit(0L), lit(1L))))
          .withColumn("dcy", explode(array(lit(-1L), lit(0L), lit(1L))))
          .withColumn("ccx", shiftright(col("qx"), 6) + col("dcx"))
          .withColumn("ccy", shiftright(col("qy"), 6) + col("dcy"))
          .filter(col("ccx").between(0, 15) && col("ccy").between(0, 15))
          .withColumn("cell", col("ccx") * 16 + col("ccy"))
          .select("s_suppkey", "qx", "qy", "cell")
        val d2 = (col("px") - col("qx")) * (col("px") - col("qx")) +
          (col("py") - col("qy")) * (col("py") - col("qy"))
        probes.join(points, "cell")
          .filter(d2 <= 3600)
          .groupBy("s_suppkey")
          .agg(
            count(lit(1)).as("n_neighbors"),
            min(d2).cast("long").as("min_d2"))
          .orderBy("s_suppkey")
      }),

    // ---- linear-regression aggregate family (built-in regr_*) ----
    // Complements the hand-rolled normal-equations trainer in Learn:
    // here the engine's own single-pass DeclarativeAggregates do the
    // co-moment math. Rounding discipline: slope/intercept are O(10..1e4)
    // → 4/3 dp; r2/corr are pure ratios of co-moments (dimensionless,
    // O(1e-5..1e-2) on this data) → 6 dp keeps both engines' summation-
    // order ulps far inside the rounding step.
    Q(
      "agg_regr_family",
      Some("""
        SELECT l_returnflag,
               round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
               round(regr_intercept(l_extendedprice, l_quantity), 3)
                 AS intercept,
               round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
               round(corr(l_extendedprice, l_quantity), 6) AS corr_pq,
               round(covar_pop(l_extendedprice, l_quantity), 2) AS covp,
               round(covar_samp(l_extendedprice, l_quantity), 2) AS covs,
               CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n
        FROM lineitem
        GROUP BY 1
        ORDER BY 1"""),
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            round(expr("regr_slope(l_extendedprice, l_quantity)"), 4)
              .as("slope"),
            round(expr("regr_intercept(l_extendedprice, l_quantity)"), 3)
              .as("intercept"),
            round(expr("regr_r2(l_extendedprice, l_quantity)"), 6).as("r2"),
            round(corr(col("l_extendedprice"), col("l_quantity")), 6)
              .as("corr_pq"),
            round(covar_pop(col("l_extendedprice"), col("l_quantity")), 2)
              .as("covp"),
            round(covar_samp(col("l_extendedprice"), col("l_quantity")), 2)
              .as("covs"),
            expr("regr_count(l_extendedprice, l_quantity)").cast("long")
              .as("n"))
          .orderBy("l_returnflag")),

    // ---- mode / median / discrete percentile ----
    // mode is tie-free on this data (one strictly-max priority per
    // status — asserted by ScaleSpec so a testdata change fails loudly
    // rather than flaking the oracle). median on an even count averages
    // the two middle DOUBLES — a selection then one IEEE op, identical
    // in both engines (no summation-order concern).
    Q(
      "agg_mode_median",
      Some("""
        SELECT o_orderstatus,
               mode(o_orderpriority) AS top_priority,
               round(median(o_totalprice), 2) AS med_price,
               round(quantile_disc(o_totalprice, 0.5), 2) AS med_disc,
               CAST(count(*) AS BIGINT) AS n
        FROM orders
        GROUP BY 1
        ORDER BY 1"""),
      (s, dir) =>
        t(s, dir, "orders")
          .groupBy("o_orderstatus")
          .agg(
            expr("mode(o_orderpriority)").as("top_priority"),
            round(expr("median(o_totalprice)"), 2).as("med_price"),
            round(
              expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)"),
              2).as("med_disc"),
            count(lit(1)).as("n"))
          .orderBy("o_orderstatus")),

    // ---- IGNORE NULLS window navigation ----
    // Last-observation-carried-forward over an event stream: lag and
    // running last_value skip nulls (only 'purchase' rows carry a
    // value). Spark: ignoreNulls flags; DuckDB: the in-paren IGNORE
    // NULLS modifier — same semantics, per-row selection (no float
    // accumulation). (ts, event_id) ordering is a total order.
    Q(
      "window_ignore_nulls",
      Some("""
        SELECT event_id, user_id,
               lag(CASE WHEN event_type='purchase' THEN value END IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 AS prev_purchase,
               last_value(CASE WHEN event_type='purchase' THEN value END
                   IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS carry_value
        FROM events
        ORDER BY event_id"""),
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        val pv = when(col("event_type") === "purchase", col("value"))
        t(s, dir, "events")
          .select(
            col("event_id"), col("user_id"),
            lag(pv, 1, null, ignoreNulls = true).over(w).as("prev_purchase"),
            last(pv, ignoreNulls = true)
              .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
              .as("carry_value"))
          .orderBy("event_id")
      }),

    // ---- shuffle-key skew profile ----
    // The pre-flight measurement for every join/agg key choice: per-key
    // row counts summarized to max/p99/p50 and a skew factor
    // (max_key_rows ÷ mean rows-per-key). skew_factor ≈ 1 ⟹ uniform;
    // ≫ 1 ⟹ the hottest partition dominates the stage and the key
    // needs salting (join_skew_salted_dim) or AQE skew splitting. All
    // inputs integer-exact; the one division happens on exact operands
    // so both engines produce the identical double.
    Q(
      "quality_key_skew_profile",
      Some("""
        WITH k AS (SELECT l_partkey AS key, CAST(count(*) AS BIGINT) AS cnt
                   FROM lineitem GROUP BY 1)
        SELECT CAST(count(*) AS BIGINT) AS n_keys,
               CAST(sum(cnt) AS BIGINT) AS n_rows,
               CAST(max(cnt) AS BIGINT) AS max_key_rows,
               CAST(quantile_disc(cnt, 0.5) AS BIGINT) AS p50_key_rows,
               CAST(quantile_disc(cnt, 0.99) AS BIGINT) AS p99_key_rows,
               round(max(cnt) * count(*) / CAST(sum(cnt) AS DOUBLE), 4)
                 AS skew_factor
        FROM k"""),
      (s, dir) => {
        val perKey = t(s, dir, "lineitem")
          .groupBy(col("l_partkey").as("key"))
          .agg(count(lit(1)).as("cnt"))
        perKey.agg(
          count(lit(1)).as("n_keys"),
          sum("cnt").cast("long").as("n_rows"),
          max("cnt").cast("long").as("max_key_rows"),
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY cnt)")
            .cast("long").as("p50_key_rows"),
          expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY cnt)")
            .cast("long").as("p99_key_rows"),
          round(
            max("cnt") * count(lit(1)) / sum("cnt").cast("double"), 4)
            .as("skew_factor"))
      })
  )
}
