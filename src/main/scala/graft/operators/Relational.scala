package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Q, QueryModule, Tables}

/** The Tier-B relational surface (SURVEY.md §2.4): the full analytical SQL
  * operator set the reference exposes through its Spark Thrift Server + BI
  * layer (reference: docker-compose.yml:70-88,181-189). One registered query
  * per operator family, each DuckDB-oracle-verified.
  *
  * Scale notes (100 TB stance):
  *   - dim tables (region/nation) carry explicit broadcast() hints — they are
  *     bounded-size in any TPC-H-shaped schema; fact⋈fact joins are left to
  *     sort-merge + AQE;
  *   - aggregations are plain groupBy (map-side partial agg + exchange on the
  *     group keys — the minimal shuffle);
  *   - window queries partition by high-cardinality keys (o_custkey), never a
  *     global ORDER BY without partitioning except on final bounded output.
  */
object Relational extends QueryModule {

  /** Slice count for range-sliced window rewrites: scale with the
    * session's shuffle parallelism, but never slice thinner than
    * `minRows` rows per slice (the boundary-carry frames below need a
    * minimum slice depth). The count is a parquet metadata read. */
  private def sliceParts(s: SparkSession, n: Long, minRows: Int): Int = {
    val shuffle = s.conf.get("spark.sql.shuffle.partitions").toInt
    math.max(1, math.min(shuffle, (n / minRows).toInt))
  }

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  val all: Seq[Q] = Seq(

    // ---- flagship: scan+filter+3-way join+broadcast dims+hash agg+sort ----
    Q(
      "flagship_revenue_by_region",
      Some("""
        SELECT r_name,
               strftime(l_shipdate, '%Y-%m') AS ship_month,
               round(sum(l_extendedprice * (1 - l_discount)), 1) AS revenue,
               CAST(count(*) AS BIGINT) AS n_items
        FROM lineitem
        JOIN orders   ON l_orderkey  = o_orderkey
        JOIN customer ON o_custkey   = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1997-01-01'
        GROUP BY 1, 2
        ORDER BY 1, 2"""),
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .filter(col("l_shipdate") >= lit("1996-01-01") &&
            col("l_shipdate") < lit("1997-01-01"))
        li.join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
          .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
          .join(broadcast(t(s, dir, "nation")),
            col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(t(s, dir, "region")),
            col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"),
            date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"))
          .agg(
            round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 1)
              .as("revenue"),
            count(lit(1)).as("n_items"))
          .orderBy(col("r_name"), col("ship_month"))
      }),

    // ---- TPC-H Q1-style pricing summary: wide hash aggregate ----
    Q(
      "q1_pricing_summary",
      Some("""
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 1) AS sum_base,
               round(sum(l_extendedprice * (1 - l_discount)), 1) AS sum_disc,
               round(avg(l_quantity), 4) AS avg_qty,
               round(avg(l_extendedprice), 4) AS avg_price,
               CAST(count(*) AS BIGINT) AS n
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2000-12-01'
        GROUP BY 1, 2
        ORDER BY 1, 2"""),
      (s, dir) =>
        t(s, dir, "lineitem")
          .filter(col("l_shipdate") <= lit("2000-12-01"))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            round(sum("l_quantity"), 2).as("sum_qty"),
            round(sum("l_extendedprice"), 1).as("sum_base"),
            round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 1)
              .as("sum_disc"),
            round(avg("l_quantity"), 4).as("avg_qty"),
            round(avg("l_extendedprice"), 4).as("avg_price"),
            count(lit(1)).as("n"))
          .orderBy("l_returnflag", "l_linestatus")),

    // ---- join family ----
    Q(
      "join_inner_order_lines",
      Some("""
        SELECT o_orderkey, o_orderstatus,
               CAST(count(*) AS BIGINT) AS n_lines,
               round(sum(l_extendedprice), 2) AS line_total
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY 1, 2
        ORDER BY 1"""),
      (s, dir) =>
        t(s, dir, "orders")
          .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
          .groupBy("o_orderkey", "o_orderstatus")
          .agg(
            count(lit(1)).as("n_lines"),
            round(sum("l_extendedprice"), 2).as("line_total"))
          .orderBy("o_orderkey")),

    Q(
      "join_left_outer_customer_orders",
      // spend summed as integer cents: double-sum order differs between
      // engines and a round() can straddle a boundary; integer sums are
      // associative-exact on both sides.
      Some("""
        SELECT c_custkey,
               CAST(count(o_orderkey) AS BIGINT) AS n_orders,
               CAST(coalesce(sum(CAST(round(o_totalprice * 100) AS BIGINT)), 0)
                 AS BIGINT) AS spend_cents
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY 1
        ORDER BY 1"""),
      (s, dir) =>
        t(s, dir, "customer")
          .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"),
            "left_outer")
          .groupBy("c_custkey")
          .agg(
            count(col("o_orderkey")).as("n_orders"),
            coalesce(sum(round(col("o_totalprice") * 100).cast("long")), lit(0L))
              .as("spend_cents"))
          .orderBy("c_custkey")),

    Q(
      "join_right_outer_orders_lines",
      Some("""
        SELECT o_orderkey, CAST(count(l_orderkey) AS BIGINT) AS n_lines
        FROM lineitem RIGHT JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1 ORDER BY 1"""),
      (s, dir) =>
        t(s, dir, "lineitem")
          .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"),
            "right_outer")
          .groupBy("o_orderkey")
          .agg(count(col("l_orderkey")).as("n_lines"))
          .orderBy("o_orderkey")),

    Q(
      "join_full_outer_nation_counts",
      Some("""
        WITH c AS (SELECT c_nationkey AS k, CAST(count(*) AS BIGINT) AS n_cust
                   FROM customer GROUP BY 1),
             s AS (SELECT s_nationkey AS k, CAST(count(*) AS BIGINT) AS n_supp
                   FROM supplier GROUP BY 1)
        SELECT CAST(coalesce(c.k, s.k) AS BIGINT) AS nationkey,
               coalesce(n_cust, 0) AS n_cust,
               coalesce(n_supp, 0) AS n_supp
        FROM c FULL OUTER JOIN s ON c.k = s.k
        ORDER BY 1"""),
      (s, dir) => {
        val c = t(s, dir, "customer").groupBy(col("c_nationkey").as("ck"))
          .agg(count(lit(1)).as("n_cust"))
        val sp = t(s, dir, "supplier").groupBy(col("s_nationkey").as("sk"))
          .agg(count(lit(1)).as("n_supp"))
        c.join(sp, col("ck") === col("sk"), "full_outer")
          .select(
            coalesce(col("ck"), col("sk")).cast("long").as("nationkey"),
            coalesce(col("n_cust"), lit(0L)).as("n_cust"),
            coalesce(col("n_supp"), lit(0L)).as("n_supp"))
          .orderBy("nationkey")
      }),

    Q(
      "join_semi_customers_with_f_orders",
      Some("""
        SELECT c_custkey, c_name FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        ORDER BY c_custkey"""),
      (s, dir) =>
        t(s, dir, "customer")
          .join(
            t(s, dir, "orders").filter(col("o_orderstatus") === "F"),
            col("c_custkey") === col("o_custkey"), "left_semi")
          .select("c_custkey", "c_name")
          .orderBy("c_custkey")),

    Q(
      "join_anti_customers_without_orders",
      Some("""
        SELECT c_custkey, c_name FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        ORDER BY c_custkey"""),
      (s, dir) =>
        t(s, dir, "customer")
          .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"),
            "left_anti")
          .select("c_custkey", "c_name")
          .orderBy("c_custkey")),

    Q(
      "join_cross_region_flags",
      Some("""
        SELECT r_name, l_returnflag AS flag
        FROM region CROSS JOIN (SELECT DISTINCT l_returnflag FROM lineitem)
        ORDER BY 1, 2"""),
      (s, dir) =>
        t(s, dir, "region")
          .crossJoin(t(s, dir, "lineitem").select(
            col("l_returnflag").as("flag")).distinct())
          .select("r_name", "flag")
          .orderBy("r_name", "flag")),

    // ---- range (theta) join: facts against a bounded band dimension on
    // a BETWEEN condition — the bounded side broadcasts, so the non-equi
    // predicate runs as a map-side broadcast join, never a shuffle NLJ ----
    Q(
      "join_range_price_bands",
      Some("""
        WITH bands(band, lo, hi) AS (VALUES
          ('low',    0.0,      100000.0),
          ('mid',    100000.0, 300000.0),
          ('high',   300000.0, 1e18))
        SELECT band, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS cents
        FROM orders JOIN bands
          ON o_totalprice >= lo AND o_totalprice < hi
        GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        import s.implicits._
        val bands = Seq(
          ("low", 0.0, 100000.0),
          ("mid", 100000.0, 300000.0),
          ("high", 300000.0, 1e18)).toDF("band", "lo", "hi")
        t(s, dir, "orders")
          .join(broadcast(bands),
            col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
          .groupBy("band")
          .agg(count(lit(1)).as("n"),
            sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
          .orderBy("band")
      }),

    // ---- as-of join: each event matched to the latest hourly "quote"
    // (per-type hourly average) at or before its timestamp. Spark-first
    // shape: union quotes into the event stream and take
    // last(quote, ignoreNulls) over a (type, time)-ordered window — no
    // row explosion, no non-equi join. Oracle: DuckDB's native ASOF JOIN.
    //
    // Scale shape: windowing on event_type alone caps parallelism at the
    // type cardinality (5 here). Instead the merged stream is
    // range-sliced on (event_type, ts, is_quote) and each slice gets the
    // last quote of every earlier slice injected as a synthetic leading
    // row. The carried quote is exact — it forward-fills across slices on
    // a (slice × type) metadata frame (≤ parts×|types| rows), so even a
    // dense slice spanning less than one quote interval (no quote of its
    // own) inherits the right predecessor. Parallelism scales with the
    // slice count; no minimum-slice-depth precondition. ----
    Q(
      "join_asof_event_quotes",
      Some("""
        WITH quotes AS (
          SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS qts,
                 CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS quote_cents
          FROM events GROUP BY 1, 2)
        SELECT e.event_id, q.quote_cents
        FROM events e
        ASOF JOIN quotes q
          ON e.event_type = q.event_type AND e.ts >= q.qts
        ORDER BY e.event_id"""),
      (s, dir) => {
        val ev = t(s, dir, "events")
        val quotes = ev
          .groupBy(col("event_type"),
            date_trunc("hour", col("ts")).as("qts"))
          .agg(sum(round(col("value") * 100).cast("long")).as("quote_cents"))
        // union-merge: quotes sort before events at the same instant
        // (is_quote = 0 first) so an event at exactly qts sees that quote
        val events = ev.select(col("event_type"), col("ts"),
          col("event_id"), lit(1).as("is_quote"),
          lit(null).cast("long").as("quote_cents"))
        val qRows = quotes.select(col("event_type"), col("qts").as("ts"),
          lit(null).cast("long").as("event_id"), lit(0).as("is_quote"),
          col("quote_cents"))
        val parts = s.conf.get("spark.sql.shuffle.partitions").toInt
        val keys = Seq(col("event_type"), col("ts"), col("is_quote"))
        val ranged = events.unionByName(qRows)
          .repartitionByRange(parts, keys: _*)
          .sortWithinPartitions(keys: _*)
          .withColumn("__pid", spark_partition_id())
          .persist()
        // last quote per (slice, type), forward-filled across slices on
        // the metadata frame so slice d inherits the latest quote of any
        // slice < d (its own quotes, if any, take over inside the window)
        val lastQ = ranged.filter(col("is_quote") === 0)
          .groupBy("__pid", "event_type")
          .agg(max(col("ts")).as("q_ts"),
            max_by(col("quote_cents"), col("ts")).as("q_cents"))
        val ffill = Window.partitionBy("event_type").orderBy("__pid")
          .rowsBetween(Window.unboundedPreceding, -1)
        val carried = ranged.select("__pid", "event_type").distinct()
          .join(lastQ, Seq("__pid", "event_type"), "left")
          .withColumn("c_ts",
            last(col("q_ts"), ignoreNulls = true).over(ffill))
          .withColumn("c_cents",
            last(col("q_cents"), ignoreNulls = true).over(ffill))
          .filter(col("c_cents").isNotNull)
          .select(col("event_type"), col("c_ts").as("ts"),
            lit(null).cast("long").as("event_id"), lit(0).as("is_quote"),
            col("c_cents").as("quote_cents"), col("__pid"))
        val w = Window.partitionBy("__pid", "event_type")
          .orderBy(col("ts"), col("is_quote"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ranged.unionByName(carried)
          .withColumn("asof_quote",
            last(col("quote_cents"), ignoreNulls = true).over(w))
          .filter(col("event_id").isNotNull)
          .select(col("event_id"), col("asof_quote").as("quote_cents"))
          .orderBy("event_id")
      }),

    // ---- the same as-of semantics through the custom whole-operator
    // (graft.plans.AsofJoin: LogicalPlan + Strategy + BinaryExecNode,
    // SURVEY §2.6 (c)) — each side shuffles on its own key and merges
    // with O(1) state, vs the union-merge's shuffle of left ∪ right and
    // per-partition window buffer. Identical DuckDB ASOF JOIN oracle. ----
    Q(
      "join_asof_custom_op",
      Some("""
        WITH quotes AS (
          SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS qts,
                 CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS quote_cents
          FROM events GROUP BY 1, 2)
        SELECT e.event_id, q.quote_cents
        FROM events e
        ASOF JOIN quotes q
          ON e.event_type = q.event_type AND e.ts >= q.qts
        ORDER BY e.event_id"""),
      (s, dir) => {
        val ev = t(s, dir, "events")
        // full-width events on purpose: the PruneAsofJoinColumns optimizer
        // rule must shrink the left scan to (event_id, event_type, ts)
        // itself — PlansSpec asserts the pruned ReadSchema
        val events = ev
        val quotes = ev
          .groupBy(col("event_type").as("q_type"),
            date_trunc("hour", col("ts")).as("qts"))
          .agg(sum(round(col("value") * 100).cast("long")).as("quote_cents"))
        graft.plans.AsofJoin
          .leftOuter(events, quotes,
            keys = ("event_type", "q_type"), times = ("ts", "qts"))
          .filter(col("quote_cents").isNotNull) // ASOF JOIN oracle is inner
          .select(col("event_id"), col("quote_cents"))
          .orderBy("event_id")
      }),

    // ---- null-safe equality join (<=>): ordinary equi-join keys drop
    // NULL rows silently (NULL = NULL is UNKNOWN); the null-safe operator
    // matches them — and still plans as a hash-partitionable equi-join,
    // NOT a nested loop (nulls hash to one bucket like any other key). ----
    Q(
      "join_null_safe_eq",
      Some("""
        WITH c AS (SELECT c_custkey, nullif(c_mktsegment, 'BUILDING') AS seg
                   FROM customer),
        d AS (SELECT seg, CAST(count(*) AS BIGINT) AS seg_n FROM c GROUP BY 1)
        SELECT c.c_custkey, d.seg_n
        FROM c JOIN d ON c.seg IS NOT DISTINCT FROM d.seg
        ORDER BY c.c_custkey"""),
      (s, dir) => {
        val c = t(s, dir, "customer")
          .select(col("c_custkey"),
            nullif(col("c_mktsegment"), lit("BUILDING")).as("seg"))
        val d = c.groupBy("seg").agg(count(lit(1)).as("seg_n"))
          .select(col("seg").as("d_seg"), col("seg_n"))
        c.join(d, col("seg") <=> col("d_seg"))
          .select(col("c_custkey"), col("seg_n"))
          .orderBy("c_custkey")
      }),

    // ---- time-series resample + gap fill: regularize irregular events
    // onto an hourly grid (sequence() explode per key — the grid is
    // generated distributed, never collected) and forward-fill holes with
    // a running last(ignoreNulls). The window partitions by event_type —
    // bounded keys each with a bounded grid, so state per partition is
    // one row; the heavy input collapses in the FIRST hash aggregate. ----
    Q(
      "resample_forward_fill",
      Some("""
        WITH hourly AS (
          SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS h,
                 CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
          FROM events GROUP BY 1, 2),
        bounds AS (
          SELECT event_type, min(h) AS lo, max(h) AS hi FROM hourly GROUP BY 1),
        grid AS (
          SELECT b.event_type,
                 unnest(generate_series(b.lo, b.hi, INTERVAL '1 hour')) AS h
          FROM bounds b),
        j AS (SELECT g.event_type, g.h, hr.cents
              FROM grid g LEFT JOIN hourly hr USING (event_type, h))
        SELECT event_type, strftime(h, '%Y-%m-%d %H:%M') AS hour,
               CAST(last_value(cents IGNORE NULLS) OVER (
                 PARTITION BY event_type ORDER BY h
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                 AS cents_ff
        FROM j ORDER BY 1, 2"""),
      (s, dir) => {
        val hourly = t(s, dir, "events")
          .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
          .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
        val grid = hourly
          .groupBy("event_type")
          .agg(min("h").as("lo"), max("h").as("hi"))
          .select(col("event_type"),
            explode(sequence(col("lo"), col("hi"), expr("interval 1 hour")))
              .as("h"))
        val w = Window.partitionBy("event_type").orderBy("h")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        grid.join(hourly, Seq("event_type", "h"), "left")
          .select(col("event_type"),
            date_format(col("h"), "yyyy-MM-dd HH:mm").as("hour"),
            last(col("cents"), ignoreNulls = true).over(w).as("cents_ff"))
          .orderBy("event_type", "hour")
      }),

    // ---- time-series LINEAR interpolation: the gap-fill upgrade over
    // forward fill — each hole takes the time-weighted blend of its
    // bracketing known points. Both brackets come from ignoreNulls
    // window endpoints (running last / upcoming first), so one sort per
    // key serves all four carried values; the blend fraction is a ratio
    // of exact integer epoch-seconds → bit-identical across engines.
    // Grid edges are known points by construction, so interior holes
    // always have both brackets. ----
    Q(
      "ts_linear_interpolate",
      Some("""
        WITH hourly AS (
          SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS h,
                 CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
          FROM events GROUP BY 1, 2),
        bounds AS (
          SELECT event_type, min(h) AS lo, max(h) AS hi FROM hourly GROUP BY 1),
        grid AS (
          SELECT b.event_type,
                 unnest(generate_series(b.lo, b.hi, INTERVAL '1 hour')) AS h
          FROM bounds b),
        j AS (SELECT g.event_type, g.h, hr.cents,
                     CASE WHEN hr.cents IS NOT NULL THEN g.h END AS kh
              FROM grid g LEFT JOIN hourly hr USING (event_type, h)),
        br AS (
          SELECT event_type, h, cents,
                 CAST(last_value(cents IGNORE NULLS) OVER pre AS DOUBLE) AS pc,
                 CAST(epoch(last_value(kh IGNORE NULLS) OVER pre) AS BIGINT) AS ph,
                 CAST(first_value(cents IGNORE NULLS) OVER post AS DOUBLE) AS nc,
                 CAST(epoch(first_value(kh IGNORE NULLS) OVER post) AS BIGINT) AS nh
          FROM j
          WINDOW
            pre AS (PARTITION BY event_type ORDER BY h
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
            post AS (PARTITION BY event_type ORDER BY h
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        SELECT event_type, strftime(h, '%Y-%m-%d %H:%M') AS hour,
               round(CASE WHEN cents IS NOT NULL THEN CAST(cents AS DOUBLE)
                     ELSE pc + (nc - pc) * (CAST(epoch(h) AS BIGINT) - ph)
                            / (nh - ph) END, 4) AS cents_lin
        FROM br ORDER BY 1, 2"""),
      (s, dir) => {
        val hourly = t(s, dir, "events")
          .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
          .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
        val grid = hourly
          .groupBy("event_type")
          .agg(min("h").as("lo"), max("h").as("hi"))
          .select(col("event_type"),
            explode(sequence(col("lo"), col("hi"), expr("interval 1 hour")))
              .as("h"))
        val pre = Window.partitionBy("event_type").orderBy("h")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val post = Window.partitionBy("event_type").orderBy("h")
          .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        grid.join(hourly, Seq("event_type", "h"), "left")
          .withColumn("kh",
            when(col("cents").isNotNull, col("h")))
          .select(col("event_type"), col("h"), col("cents"),
            last(col("cents"), ignoreNulls = true).over(pre)
              .cast("double").as("pc"),
            unix_timestamp(last(col("kh"), ignoreNulls = true).over(pre))
              .as("ph"),
            first(col("cents"), ignoreNulls = true).over(post)
              .cast("double").as("nc"),
            unix_timestamp(first(col("kh"), ignoreNulls = true).over(post))
              .as("nh"))
          .select(col("event_type"),
            date_format(col("h"), "yyyy-MM-dd HH:mm").as("hour"),
            round(
              when(col("cents").isNotNull, col("cents").cast("double"))
                .otherwise(col("pc") + (col("nc") - col("pc")) *
                  (unix_timestamp(col("h")) - col("ph")) /
                  (col("nh") - col("ph"))), 4).as("cents_lin"))
          .orderBy("event_type", "hour")
      }),

    // ---- rolling z-score outlier flag: each event scored against the
    // PRIOR 100 events of its type (trailing frame excludes the current
    // row — no self-contamination). Mean/var derive from exact BIGINT
    // window sums cast to double identically on both engines; warm-up
    // rows (<20 of history) emit NULL rather than a noisy score.
    //
    // Scale shape: PARTITION BY event_type alone pins parallelism at the
    // type cardinality (5 in testdata) — each sort partition holds ~1/5
    // of the table no matter how big the cluster. Instead: range-slice on
    // (event_type, ts, event_id) — the TeraSort discipline
    // globalRowNumber uses — carry the trailing 100 rows of each
    // (slice, type) into the next slice, and window within (slice, type),
    // so parallelism scales with the slice count. Range slices are
    // contiguous in key order, so any slice a type both enters and
    // leaves contains only that type's rows; the carry is therefore
    // complete whenever every slice holds ≥ 100 rows, which is asserted
    // loudly on the slice-count metadata frame (≤ `parts` rows). ----
    Q(
      "ts_zscore_outliers",
      Some("""
        WITH e AS (
          SELECT event_id, event_type, ts,
                 CAST(round(value * 100) AS BIGINT) AS cents
          FROM events),
        w AS (
          SELECT event_id, cents,
                 count(cents) OVER tw AS cnt,
                 sum(cents) OVER tw AS s,
                 sum(cents * cents) OVER tw AS ss
          FROM e
          WINDOW tw AS (PARTITION BY event_type ORDER BY ts, event_id
                        ROWS BETWEEN 100 PRECEDING AND 1 PRECEDING)),
        g AS (
          SELECT event_id, cents, cnt, s, ss,
                 CAST(cnt AS DECIMAL(3,0)) * CAST(ss AS DECIMAL(19,0))
                   - CAST(s AS DECIMAL(18,0)) * CAST(s AS DECIMAL(18,0))
                   AS num
          FROM w)
        SELECT event_id,
               round(z, 4) AS zscore,
               CASE WHEN z IS NULL THEN NULL ELSE abs(z) > 3.0 END
                 AS is_outlier
        FROM (
          SELECT event_id,
                 CASE WHEN cnt >= 20 AND num > 0 THEN
                   (cents - CAST(s AS DOUBLE) / cnt)
                     / sqrt(CAST(num AS DOUBLE) / (cnt * (cnt - 1.0)))
                 END AS z
          FROM g)
        ORDER BY event_id"""),
      (s, dir) => {
        val base = t(s, dir, "events")
        // memoized: one count job per (dir, table) per JVM, not per build
        val parts = sliceParts(s, Tables.rowCount(s, dir, "events"),
          minRows = 300)
        val keys = Seq(col("event_type"), col("ts"), col("event_id"))
        val ranged = base
          .select(col("event_id"), col("event_type"), col("ts"),
            round(col("value") * 100).cast("long").as("cents"))
          .repartitionByRange(parts, keys: _*)
          .sortWithinPartitions(keys: _*)
          .withColumn("__pid", spark_partition_id())
          .persist()
        // carry-completeness guard (see scale note), ≤ parts×types rows
        // read off the persisted frame. The carry for slice p of type t
        // forwards min(100, rows of t in p-1), so completeness needs
        // ≥ 100 rows of t only in slices INTERIOR to t's contiguous
        // slice span: the span's first slice holds the type's entire
        // earlier history, and its last slice forwards nothing onward —
        // a legitimately thin boundary slice under a skewed
        // distribution stays exact and stays legal.
        val sizes = ranged.groupBy("__pid", "event_type").count().collect()
        if (parts > 1) sizes.groupBy(_.getString(1)).foreach {
          case (tpe, rows) =>
            val span = rows.map(r => (r.getInt(0), r.getLong(2)))
              .sortBy(_._1)
            val thin = span.drop(1).dropRight(1).filter(_._2 < 100)
            require(thin.isEmpty,
              s"range slices interior to '$tpe' thinner than the " +
                "100-row carry frame: " +
                thin.map(p => s"${p._1}=${p._2}").mkString(","))
        }
        val tail = Window.partitionBy("__pid", "event_type")
          .orderBy(col("ts").desc, col("event_id").desc)
        val carry = ranged
          .withColumn("__rn", row_number().over(tail))
          .filter(col("__rn") <= 100 && col("__pid") < parts - 1)
          .drop("__rn")
          .withColumn("__pid", col("__pid") + 1)
          .withColumn("__carry", lit(true))
        val tw = Window.partitionBy("__pid", "event_type")
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(-100, -1)
        ranged.withColumn("__carry", lit(false))
          .unionByName(carry)
          .select(col("event_id"), col("cents"), col("__carry"),
            count(col("cents")).over(tw).as("cnt"),
            sum(col("cents")).over(tw).as("s"),
            sum(col("cents") * col("cents")).over(tw).as("ss"))
          .filter(!col("__carry"))
          // zero-variance guard (100× stress finding): a trailing frame
          // of 100 IDENTICAL values has sd = 0 — ANSI division throws
          // where the score is simply undefined. The guard is the exact
          // variance numerator num = cnt·ss − s² computed in DECIMAL
          // from the BIGINT window sums (cnt ≤ 100 → DECIMAL(3,0);
          // products stay ≤ ~1e18, well inside the DECIMAL(38) result
          // type both engines derive). num = 0 exactly iff the frame is
          // constant (Cauchy–Schwarz equality), so ONE exact conjunct
          // replaces round-10's min/max spread guard — two extra
          // O(frame) sliding-window aggregates that an in-session A/B
          // measured at a consistent 1.23× on the whole query
          // (AB_ZSCORE_r11.json) — AND the float
          // `> 0` test, whose cancellation hole (tiny true variance
          // rounding to ≤ 0) an exact integer test cannot have. The
          // division consumes CAST(num AS DOUBLE): num ≥ 1 when the
          // guard passes, so the sqrt argument is strictly positive.
          // DuckDB runs the identical decimal algebra (sums arrive as
          // HUGEINT there; the DECIMAL casts align both engines), so
          // guard decisions and z doubles stay bit-compatible.
          .withColumn("num",
            col("cnt").cast("decimal(3,0)") *
              col("ss").cast("decimal(19,0)") -
              col("s").cast("decimal(18,0)") *
              col("s").cast("decimal(18,0)"))
          .withColumn("z",
            when(col("cnt") >= 20 && col("num") > 0,
              (col("cents") -
                col("s").cast("double") / col("cnt").cast("double")) /
                sqrt(col("num").cast("double") /
                  (col("cnt").cast("double") *
                    (col("cnt").cast("double") - 1.0)))))
          .select(col("event_id"), round(col("z"), 4).as("zscore"),
            when(col("z").isNull, lit(null).cast("boolean"))
              .otherwise(abs(col("z")) > 3.0).as("is_outlier"))
          .orderBy("event_id")
      }),

    // ---- binned interval join: point-in-interval matching at scale.
    // OSS Spark plans a non-equi BETWEEN join as a nested loop — fine
    // for a constant band table (join_range_price_bands), fatal when the
    // interval side GROWS with the data. The scalable shape: quantize
    // intervals to fixed-width bins, explode each interval over the bins
    // it covers (bounded fan-out when bin width ~ interval width), then
    // an EQUI-join on (key, bin) + exact BETWEEN re-filter + dedup. Here:
    // per-type hourly maintenance windows [qh, qh+45min) derived from the
    // data, events matched into covering windows; 30-minute bins. ----
    Q(
      "join_range_binned_intervals",
      Some("""
        WITH win AS (
          SELECT DISTINCT event_type,
                 time_bucket(INTERVAL '1 hour', ts) AS lo,
                 time_bucket(INTERVAL '1 hour', ts) + INTERVAL '45 minutes'
                   AS hi
          FROM events),
        hits AS (
          SELECT e.event_id, w.lo
          FROM events e JOIN win w
            ON e.event_type = w.event_type
           AND e.ts >= w.lo AND e.ts < w.hi)
        SELECT event_id, CAST(count(*) AS BIGINT) AS n_windows,
               strftime(min(lo), '%Y-%m-%d %H:%M') AS first_window
        FROM hits GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        val ev = t(s, dir, "events")
        val win = ev.select(col("event_type"),
          date_trunc("hour", col("ts")).as("lo"))
          .distinct()
          .withColumn("hi", col("lo") + expr("interval 45 minutes"))
        val binSec = 1800L // 30-min bins: each 45-min window covers 2-3
        val binOf = (c: Column) => floor(unix_timestamp(c) / binSec)
        val winBinned = win.select(col("event_type").as("w_type"),
          col("lo"), col("hi"),
          explode(sequence(binOf(col("lo")),
            // hi is exclusive: last covered bin is the one holding hi-1s
            binOf(col("hi") - expr("interval 1 second")))).as("w_bin"))
        val evBinned = ev.select(col("event_id"), col("event_type"),
          col("ts"), binOf(col("ts")).as("bin"))
        evBinned
          .join(winBinned,
            col("event_type") === col("w_type") && col("bin") === col("w_bin"))
          // exact re-filter: the bin match over-approximates the interval
          .filter(col("ts") >= col("lo") && col("ts") < col("hi"))
          // an event can hit one window through several bins → dedup on
          // the PAIR before aggregating
          .select(col("event_id"), col("lo")).distinct()
          .groupBy("event_id")
          .agg(count(lit(1)).as("n_windows"),
            date_format(min(col("lo")), "yyyy-MM-dd HH:mm").as("first_window"))
          .orderBy("event_id")
      }),

    // ---- range join as a CUSTOM OPERATOR (plans/RangeJoin.scala:
    // LogicalPlan + strategy + exec): the same point-in-interval semantics
    // as join_range_binned_intervals, planned as sampled range buckets +
    // interval replication + one sort-sweep per bucket — no nested loop,
    // no hand-tuned bin width. Windows: every half-hour start, 75 minutes
    // wide, so each event lands in 2–3 overlapping windows (a real
    // many-to-many). Bounds travel as epoch seconds (the exec's
    // long-backed contract); RangeJoinSpec pins operator semantics
    // against a reference nested-loop join on random data. ----
    Q(
      "join_range_custom_op",
      Some("""
        WITH win AS (
          SELECT DISTINCT CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT)
                   AS lo_s
          FROM events),
        hits AS (
          SELECT e.event_id, w.lo_s
          FROM events e JOIN win w
            ON epoch(e.ts) >= w.lo_s AND epoch(e.ts) < w.lo_s + 4500)
        SELECT event_id, CAST(count(*) AS BIGINT) AS n_windows,
               CAST(min(lo_s) AS BIGINT) AS first_window_epoch
        FROM hits GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        val ev = t(s, dir, "events")
        val pts = ev.select(col("event_id"),
          unix_timestamp(col("ts")).as("ps"))
        val win = ev
          .select((floor(unix_timestamp(col("ts")) / 1800) * 1800)
            .cast("long").as("lo_s"))
          .distinct()
          .withColumn("hi_s", col("lo_s") + 4500L)
        graft.plans.RangeJoin.pointInInterval(pts, win, "ps", "lo_s", "hi_s")
          .groupBy("event_id")
          .agg(count(lit(1)).as("n_windows"),
            min(col("lo_s")).as("first_window_epoch"))
          .orderBy("event_id")
      }),

    // ---- skew-mitigation salted join: event_type has ~5 distinct values,
    // so a plain shuffle join on it caps parallelism at 5 tasks and piles
    // each hot key onto one executor at 100 TB. Salting multiplies the key
    // space ×16: the fact side gets a deterministic salt from its unique
    // id, the dim side is replicated across all salts, and the equi-join
    // runs on (key, salt) — 80 balanced partitions instead of 5 skewed
    // ones. shuffle_hash hint keeps the demo on the shuffle path (a
    // broadcast join — which AQE would pick here at test scale — has no
    // skew problem to solve; at 100 TB a fact⋈fact side isn't
    // broadcastable and this is the portable fix, complementing AQE's
    // spark.sql.adaptive.skewJoin which only splits sort-merge sides). ----
    Q(
      "join_skew_salted_dim",
      Some("""
        WITH dim AS (SELECT event_type, CAST(count(*) AS BIGINT) AS type_n
                     FROM events GROUP BY 1)
        SELECT e.event_id, d.type_n
        FROM events e JOIN dim d ON e.event_type = d.event_type
        ORDER BY e.event_id"""),
      (s, dir) => {
        val S = 16
        val ev = t(s, dir, "events")
        val dim = ev.groupBy("event_type").agg(count(lit(1)).as("type_n"))
        val salted = ev.select(col("event_id"), col("event_type"),
          pmod(hash(col("event_id")), lit(S)).as("salt"))
        val dimSalted = dim.select(col("event_type").as("d_type"),
          col("type_n"),
          explode(sequence(lit(0), lit(S - 1))).as("d_salt"))
        salted
          .join(dimSalted.hint("shuffle_hash"),
            col("event_type") === col("d_type") &&
              col("salt") === col("d_salt"))
          .select(col("event_id"), col("type_n"))
          .orderBy("event_id")
      }),

    // ---- GROUPING SETS (the general form of rollup/cube), via SQL text ----
    Q(
      "agg_grouping_sets",
      Some("""
        SELECT coalesce(l_returnflag, 'ALL') AS flag,
               coalesce(l_linestatus, 'ALL') AS status,
               CAST(count(*) AS BIGINT) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY 1, 2"""),
      (s, dir) => {
        Tables.registerViews(s, dir)
        s.sql("""
          SELECT coalesce(l_returnflag, 'ALL') AS flag,
                 coalesce(l_linestatus, 'ALL') AS status,
                 CAST(count(*) AS BIGINT) AS n
          FROM lineitem
          GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
          ORDER BY 1, 2""")
      }),

    // ---- aggregation family ----
    Q(
      "agg_count_distinct_by_segment",
      Some("""
        SELECT c_mktsegment,
               CAST(count(DISTINCT c_nationkey) AS BIGINT) AS n_nations,
               round(sum(c_acctbal), 2) AS bal,
               CAST(count(*) AS BIGINT) AS n
        FROM customer GROUP BY 1 ORDER BY 1"""),
      (s, dir) =>
        t(s, dir, "customer")
          .groupBy("c_mktsegment")
          .agg(
            countDistinct(col("c_nationkey")).as("n_nations"),
            round(sum("c_acctbal"), 2).as("bal"),
            count(lit(1)).as("n"))
          .orderBy("c_mktsegment")),

    Q(
      "agg_rollup_flag_status",
      Some("""
        SELECT coalesce(l_returnflag, 'ALL') AS flag,
               coalesce(l_linestatus, 'ALL') AS status,
               CAST(count(*) AS BIGINT) AS n,
               round(sum(l_quantity), 2) AS qty
        FROM lineitem
        GROUP BY ROLLUP(l_returnflag, l_linestatus)
        ORDER BY 1, 2"""),
      (s, dir) =>
        t(s, dir, "lineitem")
          .rollup("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("qty"))
          .select(
            coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
            coalesce(col("l_linestatus"), lit("ALL")).as("status"),
            col("n"), col("qty"))
          .orderBy("flag", "status")),

    Q(
      "agg_cube_status_priority",
      Some("""
        SELECT coalesce(o_orderstatus, 'ALL') AS status,
               coalesce(o_orderpriority, 'ALL') AS priority,
               CAST(count(*) AS BIGINT) AS n,
               round(sum(o_totalprice), 1) AS total
        FROM orders
        GROUP BY CUBE(o_orderstatus, o_orderpriority)
        ORDER BY 1, 2"""),
      (s, dir) =>
        t(s, dir, "orders")
          .cube("o_orderstatus", "o_orderpriority")
          .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 1).as("total"))
          .select(
            coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
            coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
            col("n"), col("total"))
          .orderBy("status", "priority")),

    // exact interpolated percentiles (Spark `percentile` == DuckDB
    // quantile_cont: both sort + linear interpolation, order-independent)
    Q(
      "agg_percentiles",
      Some("""
        SELECT o_orderstatus,
               round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
               round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
               round(quantile_cont(o_totalprice, 0.99), 4) AS p99
        FROM orders GROUP BY 1 ORDER BY 1"""),
      (s, dir) =>
        t(s, dir, "orders")
          .groupBy("o_orderstatus")
          .agg(
            round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
            round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"),
            round(expr("percentile(o_totalprice, 0.99)"), 4).as("p99"))
          .orderBy("o_orderstatus")),

    // statistical moments + correlation
    Q(
      "agg_stats_moments",
      Some("""
        SELECT l_returnflag,
               round(stddev_samp(l_quantity), 4) AS sd_qty,
               round(var_samp(l_quantity), 4) AS var_qty,
               round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price
        FROM lineitem GROUP BY 1 ORDER BY 1"""),
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            round(stddev_samp("l_quantity"), 4).as("sd_qty"),
            round(var_samp("l_quantity"), 4).as("var_qty"),
            round(corr("l_quantity", "l_extendedprice"), 4).as("corr_qty_price"))
          .orderBy("l_returnflag")),

    // unpivot — the BI inverse of pivot: wide flag counts back to long form
    Q(
      "unpivot_status_counts",
      Some("""
        WITH wide AS (
          SELECT o_orderpriority,
                 CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS F,
                 CAST(count(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS O,
                 CAST(count(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS P
          FROM orders GROUP BY 1)
        SELECT o_orderpriority, status, n
        FROM wide UNPIVOT (n FOR status IN (F, O, P))
        ORDER BY o_orderpriority, status"""),
      (s, dir) =>
        t(s, dir, "orders")
          .groupBy("o_orderpriority")
          .pivot("o_orderstatus", Seq("F", "O", "P"))
          .count()
          .na.fill(0L, Seq("F", "O", "P"))
          .unpivot(
            Array(col("o_orderpriority")),
            Array(col("F"), col("O"), col("P")),
            "status", "n")
          .orderBy("o_orderpriority", "status")),

    // HLL++ sketch — approximate by construction, so no DuckDB oracle (the
    // driver records a rows-only check); correctness pinned by a ScalaTest
    // bound against exact countDistinct instead.
    Q(
      "agg_approx_count_distinct",
      None,
      (s, dir) =>
        t(s, dir, "orders")
          .groupBy("o_orderstatus")
          .agg(approx_count_distinct(col("o_custkey")).as("approx_custs"))
          .orderBy("o_orderstatus")),

    // re-aggregatable HLL sketches (Apache DataSketches, Spark 4):
    // unlike approx_count_distinct — whose state dies with the query —
    // hll_sketch_agg produces a STORED binary sketch that hll_union_agg
    // merges later. That two-level shape (sketch per partition key, union
    // across keys/days) is how a 100 TB deployment keeps incremental
    // distinct counts without ever rescanning history. Sketch bytes are
    // engine-specific → spec-bounded vs exact, no SQL oracle.
    Q(
      "agg_hll_sketch_union",
      None,
      (s, dir) => {
        val perStatus = t(s, dir, "orders")
          .groupBy("o_orderstatus")
          .agg(expr("hll_sketch_agg(o_custkey)").as("sk"))
        perStatus
          .agg(expr("hll_sketch_estimate(hll_union_agg(sk))")
            .cast("long").as("approx_total_custs"))
      }),

    // KLL quantile sketch (DataSketches, TypedImperativeAggregate): the
    // re-aggregatable quantile companion to agg_hll_sketch_union — one
    // pass, mergeable O(k log n) partial buffers, no global sort.
    // Approximate by construction → no SQL oracle; KllQuantilesSpec
    // brackets each output between the exact quantiles at rank ± 3%.
    Q(
      "agg_kll_quantiles",
      None,
      (s, dir) => {
        // scalar columns, not array<double>: the driver's comparator
        // sorts/hashes cell values and cannot hash an array cell.
        t(s, dir, "orders")
          .groupBy("o_orderstatus")
          .agg(expr("kll_quantiles(CAST(o_totalprice AS DOUBLE))")
            .as("quantiles"))
          .select(
            col("o_orderstatus"),
            col("quantiles").getItem(0).as("p50"),
            col("quantiles").getItem(1).as("p90"),
            col("quantiles").getItem(2).as("p99"))
          .orderBy("o_orderstatus")
      }),

    // t-digest-style percentile sketch — approximate by construction →
    // no SQL oracle; SimilaritySpec bounds it against the exact
    // percentile. The scale story: one pass, mergeable sketches,
    // no global sort.
    Q(
      "agg_approx_percentile",
      None,
      (s, dir) =>
        t(s, dir, "orders")
          .groupBy("o_orderstatus")
          .agg(
            expr("approx_percentile(o_totalprice, 0.5, 1000)").as("p50_approx"),
            expr("approx_percentile(o_totalprice, 0.9, 1000)").as("p90_approx"))
          .orderBy("o_orderstatus")),

    // seeded Bernoulli sampling — allowlist rationale: Spark's sample()
    // seeds an XORShift rng PER PARTITION (seed + partition index) and
    // draws in row-iteration order, so the selected row set is a function
    // of the physical partition layout, not of row values — no SQL engine
    // can replay it, and unlike sampleBy below there is no per-stratum
    // population to bracket against in the output shape. SimilaritySpec
    // bounds the realized fraction instead.
    Q(
      "sample_bernoulli_seeded",
      None,
      (s, dir) =>
        t(s, dir, "lineitem")
          .sample(withReplacement = false, fraction = 0.1, seed = 42L)
          .agg(count(lit(1)).as("n_sampled"))),

    // stratified sampling (sampleBy): per-stratum fractions — the
    // class-rebalancing primitive of training-data curation (downsample
    // the majority class, keep the rare one). The seeded rng draws per
    // partition layout, so realized counts aren't cross-engine
    // reproducible — but the CLT bracket |n_s − f·n| ≤ 4σ + 5 is: the
    // query asserts it engine-side while the oracle pins the population
    // counts exactly plus the bracket verdict, turning the row from
    // allowlisted to hash-oracled without faking determinism the API
    // doesn't have. SimilaritySpec still bounds each realized fraction.
    Q(
      "sample_stratified_by_status",
      Some("""
        SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_pop,
               TRUE AS within_bracket
        FROM orders GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        val fractions = Map("F" -> 0.05, "O" -> 0.2, "P" -> 0.5)
        val f = fractions.foldLeft(lit(0.0)) { case (acc, (k, v)) =>
          when(col("o_orderstatus") === k, v).otherwise(acc)
        }
        val sampled = t(s, dir, "orders")
          .stat.sampleBy("o_orderstatus", fractions, seed = 42L)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_sampled"))
        t(s, dir, "orders")
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_pop"))
          .join(sampled, Seq("o_orderstatus"), "left")
          .select(col("o_orderstatus"), col("n_pop"),
            (abs(coalesce(col("n_sampled"), lit(0L)) - f * col("n_pop"))
              <= sqrt(f * (lit(1.0) - f) * col("n_pop")) * 4 + 5)
              .as("within_bracket"))
          .orderBy("o_orderstatus")
      }),

    // ---- window family ----
    Q(
      "window_rank_orders_per_customer",
      Some("""
        SELECT o_custkey, o_orderkey,
               CAST(row_number() OVER (PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn,
               CAST(rank() OVER (PARTITION BY o_custkey
                 ORDER BY o_orderstatus, o_orderkey) AS BIGINT) AS rnk
        FROM orders
        ORDER BY o_custkey, o_orderkey"""),
      (s, dir) => {
        val byPrice = Window.partitionBy("o_custkey")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        val byStatus = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderstatus"), col("o_orderkey"))
        t(s, dir, "orders")
          .select(
            col("o_custkey"), col("o_orderkey"),
            row_number().over(byPrice).cast("long").as("rn"),
            rank().over(byStatus).cast("long").as("rnk"))
          .orderBy("o_custkey", "o_orderkey")
      }),

    Q(
      "window_lag_lead_order_history",
      Some("""
        SELECT o_custkey, o_orderkey,
               lag(o_orderkey) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey) AS prev_order,
               lead(o_orderkey) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey) AS next_order
        FROM orders
        ORDER BY o_custkey, o_orderkey"""),
      (s, dir) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        t(s, dir, "orders")
          .select(
            col("o_custkey"), col("o_orderkey"),
            lag("o_orderkey", 1).over(w).as("prev_order"),
            lead("o_orderkey", 1).over(w).as("next_order"))
          .orderBy("o_custkey", "o_orderkey")
      }),

    Q(
      "window_running_sum_spend",
      Some("""
        SELECT o_custkey, o_orderkey,
               round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
                 AS running_spend
        FROM orders
        ORDER BY o_custkey, o_orderkey"""),
      (s, dir) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate"), col("o_orderkey"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, dir, "orders")
          .select(
            col("o_custkey"), col("o_orderkey"),
            round(sum("o_totalprice").over(w), 2).as("running_spend"))
          .orderBy("o_custkey", "o_orderkey")
      }),

    Q(
      "window_moving_avg_price",
      Some("""
        SELECT o_custkey, o_orderkey,
               round(avg(o_totalprice) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS mv_avg
        FROM orders
        ORDER BY o_custkey, o_orderkey"""),
      (s, dir) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate"), col("o_orderkey"))
          .rowsBetween(-2, Window.currentRow)
        t(s, dir, "orders")
          .select(
            col("o_custkey"), col("o_orderkey"),
            round(avg("o_totalprice").over(w), 4).as("mv_avg"))
          .orderBy("o_custkey", "o_orderkey")
      }),

    // RANGE frame (value-based, vs the ROWS frames above): 30-day trailing
    // spend per customer. Value frames are tie-insensitive → deterministic
    // without a tiebreak column.
    Q(
      "window_range_frame_trailing_spend",
      Some("""
        SELECT o_custkey, o_orderkey, d,
               CAST(sum(cents) OVER (PARTITION BY o_custkey ORDER BY d
                 RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS BIGINT)
                 AS spend_30d_cents
        FROM (SELECT o_custkey, o_orderkey,
                     CAST(datediff('day', DATE '1970-01-01',
                          CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
                     CAST(round(o_totalprice * 100) AS BIGINT) AS cents
              FROM orders)
        ORDER BY o_custkey, o_orderkey"""),
      (s, dir) => {
        val base = t(s, dir, "orders").select(
          col("o_custkey"), col("o_orderkey"),
          datediff(col("o_orderdate").cast("date"), to_date(lit("1970-01-01")))
            .cast("long").as("d"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        val w = Window.partitionBy("o_custkey").orderBy("d")
          .rangeBetween(-30, Window.currentRow)
        base.select(col("o_custkey"), col("o_orderkey"), col("d"),
          sum("cents").over(w).as("spend_30d_cents"))
          .orderBy("o_custkey", "o_orderkey")
      }),

    // Bitmap-chunked EXACT distinct count — the roaring-bitmap trick as
    // two cheap aggregations: chunk the integer key space (32 ids per
    // chunk), OR each chunk's membership mask with bit_or (map-side
    // combinable — a partition contributes ONE 8-byte mask per chunk it
    // touched, not its distinct ids), then popcount and sum the masks.
    // Exact like count(DISTINCT) but the shuffle carries masks instead
    // of every distinct value — at 100 TB that's |keyspace|/32 longs
    // against billions of shuffled ids. The oracle computes BOTH forms
    // and the green row is the bitmap ≡ count(DISTINCT) proof.
    Q(
      "agg_bitmap_exact_distinct",
      Some("""
        WITH masks AS (
          SELECT o_custkey // 32 AS chunk,
                 bit_or(1::BIGINT << CAST(o_custkey % 32 AS INT)) AS m
          FROM orders GROUP BY 1),
        bm AS (SELECT CAST(sum(bit_count(m)) AS BIGINT) AS n_bitmap,
                      CAST(count(*) AS BIGINT) AS n_chunks
               FROM masks),
        direct AS (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT)
                     AS n_direct FROM orders)
        SELECT n_bitmap, n_direct, n_chunks,
               CAST(CASE WHEN n_bitmap = n_direct THEN 1 ELSE 0 END
                    AS BIGINT) AS agrees
        FROM bm CROSS JOIN direct"""),
      (s, dir) => {
        val masks = t(s, dir, "orders")
          .groupBy(expr("o_custkey DIV 32").as("chunk"))
          .agg(expr("bit_or(shiftleft(1L, CAST(o_custkey % 32 AS INT)))")
            .as("m"))
        val bm = masks.agg(
          sum(expr("bit_count(m)")).cast("long").as("n_bitmap"),
          count(lit(1)).cast("long").as("n_chunks"))
        val direct = t(s, dir, "orders")
          .agg(count_distinct(col("o_custkey")).cast("long").as("n_direct"))
        bm.crossJoin(broadcast(direct))
          .selectExpr("n_bitmap", "n_direct", "n_chunks",
            "CAST(CASE WHEN n_bitmap = n_direct THEN 1 ELSE 0 END " +
              "AS BIGINT) AS agrees")
      }),

    // Two-phase salted aggregation — the skew-mitigation pattern: partial
    // agg on (key, salt) spreads a hot key over N reducers, then a cheap
    // final agg on the (bounded) key space merges partials. Result is
    // identical to the direct agg (integer sums are associative-exact),
    // which is exactly what the oracle checks.
    // Salt width 64, not 16 (round-11 Zipf canary finding): with 3
    // return flags, 16 salts give only 48 (key,salt) cells — hashed
    // into 32 tasks, colliding hot cells stacked the largest task at
    // 3.09× the median under a Zipf(1.1) key (57% on the hottest
    // flag). 64 salts → 192 cells ≈ 6/task, and the law of large
    // numbers pulls the max task inside the ~2× bound
    // (BENCH_scale*_zipf artifacts, pre/post). Cost: the partial agg
    // carries 192 groups instead of 48 — both trivially small; the
    // final merge agg is unchanged.
    Q(
      "agg_salted_two_phase",
      Some("""
        SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                 AS total_cents
        FROM lineitem GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        val salted = t(s, dir, "lineitem")
          .select(col("l_returnflag"),
            round(col("l_extendedprice") * 100).cast("long").as("cents"),
            pmod(hash(col("l_orderkey"), col("l_linenumber")), lit(64)).as("salt"))
          .groupBy("l_returnflag", "salt")
          .agg(count(lit(1)).as("pn"), sum("cents").as("pc"))
        salted.groupBy("l_returnflag")
          .agg(sum("pn").as("n"), sum("pc").as("total_cents"))
          .orderBy("l_returnflag")
      }),

    // incremental aggregate maintenance (the materialized-view refresh
    // pattern): per-group state (count, integer-cents sum) computed
    // separately over the already-materialized base and a new delta
    // batch, then MERGED by summing states — never rescanning the base.
    // avg derives at read time from exact merged integers. This is the
    // algebraic-aggregate contract that makes 100 TB incremental ETL
    // possible (same shape the HLL-sketch union pins for distinct
    // counts); the oracle recomputes from scratch and must agree.
    Q(
      "agg_incremental_merge",
      Some("""
        SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS cents,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 / CAST(count(*) AS BIGINT) AS avg_cents
        FROM orders GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        def state(df: DataFrame): DataFrame = df
          .select(col("o_orderstatus"),
            round(col("o_totalprice") * 100).cast("long").as("cents"))
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("pn"), sum("cents").as("pc"))
        val orders = t(s, dir, "orders")
        val base = state(orders.filter(col("o_orderkey") % 10 =!= 9))
        val delta = state(orders.filter(col("o_orderkey") % 10 === 9))
        base.unionByName(delta)
          .groupBy("o_orderstatus")
          .agg(sum("pn").as("n"), sum("pc").as("cents"))
          .select(col("o_orderstatus"), col("n"), col("cents"),
            (col("cents") / col("n")).as("avg_cents"))
          .orderBy("o_orderstatus")
      }),

    // distribution-rank analytics: ntile/percent_rank/cume_dist over a
    // total per-partition order (orderkey tiebreak → deterministic)
    Q(
      "window_distribution_ranks",
      Some("""
        SELECT o_custkey, o_orderkey,
               CAST(ntile(4) OVER w AS BIGINT) AS quartile,
               round(percent_rank() OVER w, 6) AS pct_rank,
               round(cume_dist() OVER w, 6) AS cume
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_totalprice DESC, o_orderkey)
        ORDER BY o_custkey, o_orderkey"""),
      (s, dir) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        t(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"),
            ntile(4).over(w).cast("long").as("quartile"),
            round(percent_rank().over(w), 6).as("pct_rank"),
            round(cume_dist().over(w), 6).as("cume"))
          .orderBy("o_custkey", "o_orderkey")
      }),

    // positional window values: first/last/nth over an explicit frame
    Q(
      "window_positional_values",
      Some("""
        SELECT o_custkey, o_orderkey,
               CAST(first_value(o_orderkey) OVER w AS BIGINT) AS first_ok,
               CAST(last_value(o_orderkey) OVER w AS BIGINT) AS last_ok,
               CAST(nth_value(o_orderkey, 2) OVER w AS BIGINT) AS second_ok
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        ORDER BY o_custkey, o_orderkey"""),
      (s, dir) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate"), col("o_orderkey"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        t(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"),
            first("o_orderkey").over(w).cast("long").as("first_ok"),
            last("o_orderkey").over(w).cast("long").as("last_ok"),
            nth_value(col("o_orderkey"), 2).over(w).cast("long").as("second_ok"))
          .orderBy("o_custkey", "o_orderkey")
      }),

    // within-group string aggregation (sorted for determinism)
    Q(
      "agg_string_collect",
      Some("""
        SELECT CAST(n_regionkey AS BIGINT) AS regionkey,
               string_agg(n_name, ',' ORDER BY n_name) AS nations
        FROM nation GROUP BY 1 ORDER BY 1"""),
      (s, dir) =>
        t(s, dir, "nation")
          .groupBy(col("n_regionkey").cast("long").as("regionkey"))
          .agg(array_join(array_sort(collect_list("n_name")), ",").as("nations"))
          .orderBy("regionkey")),

    // conditional aggregates: count_if / filtered sums / bool aggregates
    Q(
      "agg_conditional",
      Some("""
        SELECT o_orderstatus,
               CAST(count(*) FILTER (WHERE o_totalprice > 200000) AS BIGINT)
                 AS n_big,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                 FILTER (WHERE o_orderpriority = '1-URGENT') AS BIGINT)
                 AS urgent_cents,
               bool_or(o_totalprice > 400000) AS any_huge,
               bool_and(o_totalprice > 0) AS all_positive
        FROM orders GROUP BY 1 ORDER BY 1"""),
      (s, dir) =>
        t(s, dir, "orders")
          .groupBy("o_orderstatus")
          .agg(
            count_if(col("o_totalprice") > 200000).as("n_big"),
            sum(when(col("o_orderpriority") === "1-URGENT",
              round(col("o_totalprice") * 100).cast("long"))).as("urgent_cents"),
            bool_or(col("o_totalprice") > 400000).as("any_huge"),
            bool_and(col("o_totalprice") > 0).as("all_positive"))
          .orderBy("o_orderstatus")),

    // second date sampler: quarter / ISO week / aligned day-of-week /
    // epoch seconds / month arithmetic
    Q(
      "scalar_date_functions2",
      Some("""
        SELECT o_orderkey,
               CAST(quarter(o_orderdate) AS BIGINT) AS q,
               CAST(weekofyear(CAST(o_orderdate AS DATE)) AS BIGINT) AS iso_week,
               CAST(isodow(o_orderdate) AS BIGINT) AS iso_dow,
               CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s,
               strftime(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH, '%Y-%m-%d')
                 AS plus_2mo
        FROM orders ORDER BY o_orderkey"""),
      (s, dir) =>
        t(s, dir, "orders")
          .select(
            col("o_orderkey"),
            quarter(col("o_orderdate")).cast("long").as("q"),
            weekofyear(col("o_orderdate")).cast("long").as("iso_week"),
            // Spark dayofweek: 1=Sunday..7=Saturday; ISO dow: 1=Monday..7=Sunday
            when(dayofweek(col("o_orderdate")) === 1, 7L)
              .otherwise(dayofweek(col("o_orderdate")).cast("long") - 1)
              .as("iso_dow"),
            unix_timestamp(col("o_orderdate")).as("epoch_s"),
            date_format(add_months(col("o_orderdate").cast("date"), 2),
              "yyyy-MM-dd").as("plus_2mo"))
          .orderBy("o_orderkey")),

    Q(
      "topk_per_group_orders",
      Some("""
        SELECT o_custkey, o_orderkey, rn FROM (
          SELECT o_custkey, o_orderkey,
                 CAST(row_number() OVER (PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
          FROM orders)
        WHERE rn <= 3
        ORDER BY o_custkey, rn"""),
      (s, dir) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        t(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"),
            row_number().over(w).cast("long").as("rn"))
          .filter(col("rn") <= 3)
          .orderBy("o_custkey", "rn")
      }),

    // bitwise aggregates (order-independent, integer-exact)
    Q(
      "agg_bitwise",
      Some("""
        SELECT l_returnflag,
               CAST(bit_and(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_and,
               CAST(bit_or(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_or,
               CAST(bit_xor(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_xor
        FROM lineitem GROUP BY 1 ORDER BY 1"""),
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            expr("bit_and(CAST(l_quantity AS BIGINT))").as("qty_and"),
            expr("bit_or(CAST(l_quantity AS BIGINT))").as("qty_or"),
            expr("bit_xor(CAST(l_quantity AS BIGINT))").as("qty_xor"))
          .orderBy("l_returnflag")),

    // math function sampler (per-row IEEE ops; rounded for the odd libm
    // last-ulp difference on transcendentals)
    Q(
      "scalar_math_functions",
      Some("""
        SELECT o_orderkey,
               round(sqrt(o_totalprice), 6) AS sq,
               round(ln(o_totalprice), 6) AS logn,
               round(pow(o_totalprice / 100000, 2), 6) AS pw,
               CAST(ceil(o_totalprice) AS BIGINT) AS ce,
               CAST(floor(o_totalprice) AS BIGINT) AS fl,
               round(abs(-o_totalprice), 2) AS ab,
               CAST(sign(o_totalprice - 200000) AS BIGINT) AS sgn
        FROM orders ORDER BY o_orderkey"""),
      (s, dir) =>
        t(s, dir, "orders")
          .select(
            col("o_orderkey"),
            round(sqrt(col("o_totalprice")), 6).as("sq"),
            round(log(col("o_totalprice")), 6).as("logn"),
            round(pow(col("o_totalprice") / 100000, 2), 6).as("pw"),
            ceil(col("o_totalprice")).cast("long").as("ce"),
            floor(col("o_totalprice")).cast("long").as("fl"),
            round(abs(-col("o_totalprice")), 2).as("ab"),
            signum(col("o_totalprice") - 200000).cast("long").as("sgn"))
          .orderBy("o_orderkey")),

    // ---- global sort / top-k (O1/O2) ----
    Q(
      "sort_limit_top_orders",
      Some("""
        SELECT o_orderkey, o_totalprice FROM orders
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"""),
      (s, dir) =>
        t(s, dir, "orders")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .select("o_orderkey", "o_totalprice")
          .limit(10)),

    // ---- global count (S16/A1) ----
    Q(
      "count_global_lineitem",
      Some("SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem"),
      (s, dir) => t(s, dir, "lineitem").agg(count(lit(1)).as("n"))),

    // ---- set operations ----
    Q(
      "setop_union_nationkeys",
      Some("""
        SELECT CAST(k AS BIGINT) AS k FROM (
          SELECT c_nationkey AS k FROM customer
          UNION
          SELECT s_nationkey AS k FROM supplier)
        ORDER BY k"""),
      (s, dir) =>
        t(s, dir, "customer").select(col("c_nationkey").as("k"))
          .union(t(s, dir, "supplier").select(col("s_nationkey").as("k")))
          .distinct()
          .select(col("k").cast("long").as("k"))
          .orderBy("k")),

    Q(
      "setop_intersect_nationkeys",
      Some("""
        SELECT CAST(k AS BIGINT) AS k FROM (
          SELECT c_nationkey AS k FROM customer
          INTERSECT
          SELECT s_nationkey AS k FROM supplier)
        ORDER BY k"""),
      (s, dir) =>
        t(s, dir, "customer").select(col("c_nationkey").as("k"))
          .intersect(t(s, dir, "supplier").select(col("s_nationkey").as("k")))
          .select(col("k").cast("long").as("k"))
          .orderBy("k")),

    Q(
      "setop_except_nationkeys",
      Some("""
        SELECT CAST(k AS BIGINT) AS k FROM (
          SELECT c_nationkey AS k FROM customer
          EXCEPT
          SELECT s_nationkey AS k FROM supplier)
        ORDER BY k"""),
      (s, dir) =>
        t(s, dir, "customer").select(col("c_nationkey").as("k"))
          .except(t(s, dir, "supplier").select(col("s_nationkey").as("k")))
          .select(col("k").cast("long").as("k"))
          .orderBy("k")),

    // ---- pivot ----
    Q(
      "pivot_priority_by_status",
      Some("""
        SELECT o_orderpriority,
               CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS F,
               CAST(count(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS O,
               CAST(count(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS P
        FROM orders GROUP BY 1 ORDER BY 1"""),
      (s, dir) =>
        t(s, dir, "orders")
          .groupBy("o_orderpriority")
          .pivot("o_orderstatus", Seq("F", "O", "P"))
          .count()
          .select(
            col("o_orderpriority"),
            coalesce(col("F"), lit(0L)).as("F"),
            coalesce(col("O"), lit(0L)).as("O"),
            coalesce(col("P"), lit(0L)).as("P"))
          .orderBy("o_orderpriority")),

    // ---- scalar function samplers ----
    Q(
      "scalar_string_functions",
      Some("""
        SELECT p_partkey,
               lower(p_name) AS name_lower,
               upper(p_brand) AS brand_upper,
               substr(p_type, 1, 5) AS type_prefix,
               CAST(length(p_name) AS BIGINT) AS name_len,
               concat(p_brand, ':', p_type) AS brand_type,
               regexp_extract(p_brand, '([0-9]+)', 1) AS brand_num,
               trim(concat('  ', p_name, '  ')) AS trimmed
        FROM part ORDER BY p_partkey"""),
      (s, dir) =>
        t(s, dir, "part")
          .select(
            col("p_partkey"),
            lower(col("p_name")).as("name_lower"),
            upper(col("p_brand")).as("brand_upper"),
            substring(col("p_type"), 1, 5).as("type_prefix"),
            length(col("p_name")).cast("long").as("name_len"),
            concat(col("p_brand"), lit(":"), col("p_type")).as("brand_type"),
            regexp_extract(col("p_brand"), "([0-9]+)", 1).as("brand_num"),
            trim(concat(lit("  "), col("p_name"), lit("  "))).as("trimmed"))
          .orderBy("p_partkey")),

    // second string sampler: padding/translate/repeat/reverse + edit
    // distance (levenshtein — the classic fuzzy-match primitive)
    Q(
      "scalar_string_functions2",
      Some("""
        SELECT p_partkey,
               lpad(p_brand, 12, '.') AS brand_padded,
               rpad(p_brand, 12, '.') AS brand_rpadded,
               translate(p_type, 'aeiou', 'AEIOU') AS type_vowels,
               repeat('-', CAST(p_size % 5 AS INT)) AS dashes,
               reverse(p_brand) AS brand_rev,
               CAST(levenshtein(p_brand, p_type) AS BIGINT) AS edit_dist
        FROM part ORDER BY p_partkey"""),
      (s, dir) =>
        t(s, dir, "part")
          .select(
            col("p_partkey"),
            lpad(col("p_brand"), 12, ".").as("brand_padded"),
            rpad(col("p_brand"), 12, ".").as("brand_rpadded"),
            translate(col("p_type"), "aeiou", "AEIOU").as("type_vowels"),
            repeat(lit("-"), (col("p_size") % 5).cast("int")).as("dashes"),
            reverse(col("p_brand")).as("brand_rev"),
            levenshtein(col("p_brand"), col("p_type")).cast("long")
              .as("edit_dist"))
          .orderBy("p_partkey")),

    // struct construction → JSON serialization → parse-back → field
    // access: the nested-type roundtrip (values compared field-wise; the
    // JSON text itself is formatting-dependent between engines)
    Q(
      "scalar_struct_roundtrip",
      Some("""
        SELECT o_orderkey,
               CAST(json_extract_string(j, '$.status') AS VARCHAR) AS status_back,
               TRY_CAST(json_extract(j, '$.cents') AS BIGINT) AS cents_back
        FROM (SELECT o_orderkey,
                     to_json(struct_pack(
                       status := o_orderstatus,
                       cents := CAST(round(o_totalprice * 100) AS BIGINT))) AS j
              FROM orders)
        ORDER BY o_orderkey"""),
      (s, dir) =>
        t(s, dir, "orders")
          .select(col("o_orderkey"),
            to_json(struct(
              col("o_orderstatus").as("status"),
              round(col("o_totalprice") * 100).cast("long").as("cents"))).as("j"))
          // json_tuple: ONE parse per row for both fields — two
          // get_json_object calls parsed the JSON twice (round-16);
          // same top-level string extraction semantics
          .select(col("o_orderkey"),
            json_tuple(col("j"), "status", "cents")
              .as(Seq("status_back", "cents_raw")))
          .select(col("o_orderkey"), col("status_back"),
            col("cents_raw").try_cast("long").as("cents_back"))
          .orderBy("o_orderkey")),

    Q(
      "scalar_date_functions",
      Some("""
        SELECT o_orderkey,
               CAST(year(o_orderdate) AS BIGINT) AS yr,
               CAST(month(o_orderdate) AS BIGINT) AS mo,
               strftime(date_trunc('month', o_orderdate), '%Y-%m-%d')
                 AS month_start,
               CAST(datediff('day', o_orderdate, TIMESTAMP '2002-01-01')
                 AS BIGINT) AS days_to_2002,
               strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS plus30
        FROM orders ORDER BY o_orderkey"""),
      (s, dir) =>
        t(s, dir, "orders")
          .select(
            col("o_orderkey"),
            year(col("o_orderdate")).cast("long").as("yr"),
            month(col("o_orderdate")).cast("long").as("mo"),
            date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd")
              .as("month_start"),
            datediff(to_date(lit("2002-01-01")), to_date(col("o_orderdate")))
              .cast("long").as("days_to_2002"),
            date_format(date_add(to_date(col("o_orderdate")), 30), "yyyy-MM-dd")
              .as("plus30"))
          .orderBy("o_orderkey")),

    Q(
      "scalar_json_extraction",
      Some("""
        SELECT event_id,
               TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)
                 AS k_val,
               upper(event_type) AS etype
        FROM events ORDER BY event_id"""),
      (s, dir) =>
        t(s, dir, "events")
          .select(
            col("event_id"),
            get_json_object(col("props"), "$.k").try_cast("long").as("k_val"),
            upper(col("event_type")).as("etype"))
          .orderBy("event_id")),

    // ---- collation-aware grouping (Spark 4 collations): UTF8_LCASE
    // equality folds case variants in the GROUPING ITSELF — no lower()
    // normalization column materialized, and the collation survives into
    // the hash shuffle key. Oracle normalizes explicitly (same result by
    // definition for case-insensitive collation). ----
    Q(
      "scalar_collation_lcase",
      Some("""
        WITH mixed AS (
          SELECT CASE WHEN c_custkey % 2 = 0 THEN lower(c_mktsegment)
                      ELSE c_mktsegment END AS seg
          FROM customer)
        SELECT lower(seg) AS seg, CAST(count(*) AS BIGINT) AS n
        FROM mixed GROUP BY lower(seg) ORDER BY seg"""),
      (s, dir) => {
        Tables.registerViews(s, dir)
        s.sql("""
          WITH mixed AS (
            SELECT CASE WHEN c_custkey % 2 = 0 THEN lower(c_mktsegment)
                        ELSE c_mktsegment END AS seg
            FROM customer)
          SELECT min(lower(seg)) AS seg, CAST(count(*) AS BIGINT) AS n
          FROM mixed GROUP BY collate(seg, 'UTF8_LCASE') ORDER BY seg""")
      }),

    // ---- try_* ANSI companions: under Spark 4's default ANSI mode,
    // divide-by-zero and integer overflow THROW; the try_ family yields
    // NULL instead — the per-expression opt-out a pipeline uses for known
    // dirty spots without disabling ANSI globally. Oracle spells out the
    // same semantics with CASE (DuckDB divides doubles IEEE-style). ----
    Q(
      "scalar_try_functions",
      Some("""
        SELECT l_orderkey, l_linenumber,
               CASE WHEN l_linenumber % 3 = 0 THEN NULL
                    ELSE CAST(floor(l_extendedprice / l_quantity * 10000)
                              AS BIGINT) END AS ratio_e4,
               CASE WHEN l_linenumber % 2 = 0 THEN NULL
                    ELSE CAST(9223372036854775807 AS BIGINT) END AS of_add
        FROM lineitem ORDER BY 1, 2"""),
      (s, dir) =>
        t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            // floor of the scaled ratio, not round(…, 4): a half-tie at
            // the 4th decimal flips between engines' decimalizations;
            // floor on the identical IEEE quotient is engine-stable
            floor(try_divide(col("l_extendedprice"),
              when(col("l_linenumber") % 3 === 0, lit(0.0))
                .otherwise(col("l_quantity"))) * 10000)
              .cast("long").as("ratio_e4"),
            try_add(lit(Long.MaxValue),
              when(col("l_linenumber") % 2 === 0, lit(1L)).otherwise(lit(0L)))
              .as("of_add"))
          .orderBy("l_orderkey", "l_linenumber")),

    // regexp_extract_all: one-to-many extraction (all matches, not just
    // the first) — exploded and counted so the oracle is order-free
    Q(
      "scalar_regexp_extract_all",
      Some("""
        SELECT num, CAST(count(*) AS BIGINT) AS n
        FROM (SELECT unnest(regexp_extract_all(props, '[0-9]+')) AS num
              FROM events)
        GROUP BY 1 ORDER BY n DESC, num LIMIT 20"""),
      (s, dir) =>
        t(s, dir, "events")
          .select(explode(expr("regexp_extract_all(props, '[0-9]+', 0)"))
            .as("num"))
          .groupBy("num").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("num"))
          .limit(20)),

    // pivot with MULTIPLE aggregates per cell (count + integer-cents sum
    // per pivoted status) — the wide-report shape BI layers generate
    Q(
      "pivot_multi_agg",
      Some("""
        SELECT o_orderpriority,
               CAST(count(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS f_n,
               CAST(coalesce(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                 FILTER (o_orderstatus = 'F'), 0) AS BIGINT) AS f_cents,
               CAST(count(*) FILTER (o_orderstatus = 'O') AS BIGINT) AS o_n,
               CAST(coalesce(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                 FILTER (o_orderstatus = 'O'), 0) AS BIGINT) AS o_cents
        FROM orders GROUP BY 1 ORDER BY 1"""),
      (s, dir) =>
        t(s, dir, "orders")
          .groupBy("o_orderpriority")
          .pivot("o_orderstatus", Seq("F", "O"))
          .agg(count(lit(1)).as("n"),
            coalesce(sum(round(col("o_totalprice") * 100).cast("long")),
              lit(0L)).as("cents"))
          .select(col("o_orderpriority"),
            col("F_n").as("f_n"), col("F_cents").as("f_cents"),
            col("O_n").as("o_n"), col("O_cents").as("o_cents"))
          .orderBy("o_orderpriority")),

    // argmax/argmin aggregates (max_by/min_by): "the row attribute AT the
    // extremum" without a self-join or window — one hash aggregate
    Q(
      "agg_max_by_min_by",
      Some("""
        SELECT o_orderstatus,
               CAST(arg_max(o_orderkey, o_totalprice) AS BIGINT)
                 AS priciest_order,
               CAST(arg_min(o_orderkey, o_totalprice) AS BIGINT)
                 AS cheapest_order
        FROM orders GROUP BY 1 ORDER BY 1"""),
      (s, dir) =>
        t(s, dir, "orders")
          .groupBy("o_orderstatus")
          .agg(
            max_by(col("o_orderkey"), col("o_totalprice"))
              .as("priciest_order"),
            min_by(col("o_orderkey"), col("o_totalprice"))
              .as("cheapest_order"))
          .orderBy("o_orderstatus")),

    // gap-based sessionization via window composition (lag → gap flag →
    // running sum as session id): the manual spelling of session_window,
    // needed whenever the gap rule is custom (per-user idle threshold,
    // activity-type resets). Two window passes over the same keyed sort —
    // ONE shuffle, the second window reuses the partitioning/order.
    Q(
      "window_sessionize_by_gap",
      Some("""
        WITH marked AS (
          SELECT user_id, ts, event_id,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
                      THEN 1 ELSE 0 END AS new_session
          FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        sess AS (
          SELECT user_id, ts,
                 sum(new_session) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS session_id
          FROM marked)
        SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
               CAST(count(*) AS BIGINT) AS n_events,
               strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start
        FROM sess GROUP BY 1, 2 ORDER BY 1, 2"""),
      (s, dir) => {
        val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val running = Window.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, dir, "events")
          .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
          .withColumn("new_session",
            when(col("prev_ts").isNull ||
              col("ts") > col("prev_ts") + expr("interval 30 minutes"), 1)
              .otherwise(0))
          .withColumn("session_id",
            sum(col("new_session")).over(running).cast("long"))
          .groupBy("user_id", "session_id")
          .agg(count(lit(1)).as("n_events"),
            date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss")
              .as("session_start"))
          .orderBy("user_id", "session_id")
      }),

    // scalar bit-manipulation sampler (the hash/bitmap toolbox: shifts,
    // masks, popcount — what sketch and bucketing code is made of)
    Q(
      "scalar_bitwise_functions",
      Some("""
        SELECT o_orderkey,
               CAST(o_orderkey & 255 AS BIGINT) AS low_byte,
               CAST(o_orderkey >> 4 AS BIGINT) AS shifted,
               CAST((o_orderkey << 2) & 65535 AS BIGINT) AS shifted_masked,
               CAST(bit_count(o_orderkey) AS BIGINT) AS popcount,
               CAST(xor(o_orderkey, 12345) AS BIGINT) AS xored
        FROM orders ORDER BY o_orderkey"""),
      (s, dir) =>
        t(s, dir, "orders")
          .select(col("o_orderkey"),
            col("o_orderkey").bitwiseAND(255L).as("low_byte"),
            shiftright(col("o_orderkey"), 4).cast("long").as("shifted"),
            shiftleft(col("o_orderkey"), 2).bitwiseAND(65535L).cast("long")
              .as("shifted_masked"),
            bit_count(col("o_orderkey")).cast("long").as("popcount"),
            col("o_orderkey").bitwiseXOR(12345L).as("xored"))
          .orderBy("o_orderkey")),

    // conditional-expression sampler: the null-handling algebra
    // (coalesce/nullif/nvl2/greatest/least) every silver layer leans on
    Q(
      "scalar_conditional_functions",
      Some("""
        SELECT c_custkey,
               coalesce(nullif(c_mktsegment, 'BUILDING'), 'REDACTED') AS seg,
               CAST(greatest(c_nationkey, 12) AS BIGINT) AS floor12,
               CAST(least(c_nationkey, 12) AS BIGINT) AS cap12,
               CASE WHEN c_acctbal < 0 THEN 'debt'
                    WHEN c_acctbal < 5000 THEN 'mid'
                    ELSE 'high' END AS band
        FROM customer ORDER BY c_custkey"""),
      (s, dir) =>
        t(s, dir, "customer")
          .select(col("c_custkey"),
            coalesce(nullif(col("c_mktsegment"), lit("BUILDING")),
              lit("REDACTED")).as("seg"),
            greatest(col("c_nationkey"), lit(12)).cast("long").as("floor12"),
            least(col("c_nationkey"), lit(12)).cast("long").as("cap12"),
            when(col("c_acctbal") < 0, "debt")
              .when(col("c_acctbal") < 5000, "mid")
              .otherwise("high").as("band"))
          .orderBy("c_custkey")),

    // interval arithmetic sampler: duration math on event timestamps
    Q(
      "scalar_interval_arithmetic",
      Some("""
        SELECT event_id,
               strftime(ts + INTERVAL '90 minutes', '%Y-%m-%d %H:%M:%S')
                 AS plus90m,
               strftime(ts - INTERVAL '1 day', '%Y-%m-%d %H:%M:%S')
                 AS minus1d,
               CAST(date_diff('minute', TIMESTAMP '2024-01-01 00:00:00', ts)
                 AS BIGINT) AS minutes_since_epoch0
        FROM events ORDER BY event_id"""),
      (s, dir) =>
        t(s, dir, "events")
          .select(col("event_id"),
            date_format(col("ts") + expr("interval 90 minutes"),
              "yyyy-MM-dd HH:mm:ss").as("plus90m"),
            date_format(col("ts") - expr("interval 1 day"),
              "yyyy-MM-dd HH:mm:ss").as("minus1d"),
            ((unix_timestamp(col("ts")) -
              unix_timestamp(lit("2024-01-01 00:00:00").cast("timestamp")))
              / 60).cast("long").as("minutes_since_epoch0"))
          .orderBy("event_id")),

    // ---- VARIANT (Spark 4's semi-structured binary type): parse once
    // into the shredded encoding, then typed path extraction — the scale
    // replacement for repeated string re-parsing (get_json_object parses
    // the text on every call; a variant column parses once at ingest and
    // pushes typed access down to the binary). try_variant_get covers the
    // missing-path-as-null contract. ----
    Q(
      "scalar_variant_extraction",
      Some("""
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))
                 AS BIGINT) AS k_sum,
               CAST(count(CASE WHEN json_extract(props, '$.missing') IS NOT NULL
                          THEN 1 END) AS BIGINT) AS n_miss
        FROM events GROUP BY 1 ORDER BY 1"""),
      (s, dir) =>
        t(s, dir, "events")
          .selectExpr("event_type",
            "variant_get(parse_json(props), '$.k', 'int') AS k",
            "try_variant_get(parse_json(props), '$.missing', 'int') AS miss")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(col("k").cast("long")).as("k_sum"),
            count(col("miss")).as("n_miss"))
          .orderBy("event_type")),

    // ---- S3: dynamic JSON keys → long form → pivoted columns (the
    // reference flattens parameters[].label→value into top-level keys,
    // app/bronze.py:82-94; same mechanism: parse as map, explode, pivot) ----
    Q(
      "s3_json_flatten",
      Some("""
        SELECT event_id,
               TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        FROM events ORDER BY event_id"""),
      (s, dir) =>
        t(s, dir, "events")
          .select(col("event_id"),
            explode(from_json(col("props"),
              org.apache.spark.sql.types.DataType.fromDDL("map<string,string>"))))
          .groupBy("event_id")
          .pivot("key", Seq("k"))
          .agg(first("value"))
          .select(col("event_id"), col("k").try_cast("long").as("k"))
          .orderBy("event_id")),

    // ---- array function sampler (construct → transform → inspect) ----
    Q(
      "scalar_array_functions",
      Some("""
        SELECT r_regionkey,
               len(arr) AS n,
               list_sort(arr)[1] AS min_ch,
               list_contains(arr, 'a') AS has_a,
               array_to_string(list_sort(arr), '') AS sorted_chars,
               list_reverse(list_sort(arr))[1] AS max_ch
        FROM (SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey,
                     list_distinct(string_split(regexp_replace(
                       lower(r_name), '[^a-z]', '', 'g'), '')) AS arr
              FROM region)
        WHERE len(arr) > 0
        ORDER BY r_regionkey"""),
      (s, dir) => {
        // DuckDB's string_split('abc','') yields [a,b,c]; Spark's split
        // yields ["", a, b, c, ""] — filter the empties for parity.
        val chars = array_distinct(filter(
          split(regexp_replace(lower(col("r_name")), "[^a-z]", ""), ""),
          x => x =!= lit("")))
        t(s, dir, "region")
          .select(col("r_regionkey").cast("long").as("r_regionkey"),
            chars.as("arr"))
          .filter(size(col("arr")) > 0)
          .select(
            col("r_regionkey"),
            size(col("arr")).cast("long").as("n"),
            element_at(array_sort(col("arr")), 1).as("min_ch"),
            array_contains(col("arr"), "a").as("has_a"),
            array_join(array_sort(col("arr")), "").as("sorted_chars"),
            element_at(reverse(array_sort(col("arr"))), 1).as("max_ch"))
          .orderBy("r_regionkey")
      }),

    // ---- map function sampler: JSON → map → keys/values/entries ----
    Q(
      "scalar_map_functions",
      Some("""
        SELECT event_id,
               CAST(cardinality(m) AS BIGINT) AS n_keys,
               array_to_string(list_sort(map_keys(m)), ',') AS keys_sorted,
               TRY_CAST(map_extract(m, 'k')[1] AS BIGINT) AS k_val
        FROM (SELECT event_id,
                     map_from_entries(list_transform(
                       json_keys(props),
                       k -> struct_pack(k := k,
                                        v := json_extract_string(props, k))))
                       AS m
              FROM events)
        ORDER BY event_id"""),
      (s, dir) =>
        t(s, dir, "events")
          .select(col("event_id"),
            from_json(col("props"),
              org.apache.spark.sql.types.DataType.fromDDL("map<string,string>"))
              .as("m"))
          .select(
            col("event_id"),
            size(col("m")).cast("long").as("n_keys"),
            array_join(array_sort(map_keys(col("m"))), ",").as("keys_sorted"),
            element_at(col("m"), "k").try_cast("long").as("k_val"))
          .orderBy("event_id")),

    // ---- generator / UDTF surface (U3): explode over split tokens ----
    Q(
      "explode_token_counts",
      Some("""
        SELECT token, CAST(count(*) AS BIGINT) AS n
        FROM (SELECT unnest(list_filter(string_split(text, ' '),
                     x -> x <> '')) AS token
              FROM documents)
        GROUP BY 1 ORDER BY n DESC, token"""),
      (s, dir) =>
        t(s, dir, "documents")
          .select(explode(
            filter(split(col("text"), " "), x => x =!= lit(""))).as("token"))
          .groupBy("token")
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("token"))),

    // ---- additive seasonal decomposition of the per-type hourly
    // series: y = trend + seasonal + residual, with trend a centered
    // 25-hour moving average, seasonal the hour-of-day mean deviation,
    // and the residual what's left. Shape: one hourly aggregation of
    // the raw events, then windows over the AGGREGATED per-type series
    // (partition cardinality = hours in range — time-bounded, the same
    // blessed shape as resample_forward_fill) plus two tiny broadcast
    // stats joins (≤ 24·|types| and |types| rows). Every division is
    // shared-text double math over exact integer sums. ----
    Q(
      "ts_seasonal_decompose", {
        val trendT = "round(CAST(swin AS DOUBLE) / CAST(cwin AS DOUBLE), 6)"
        val seasT = "round(CAST(shod AS DOUBLE) / CAST(chod AS DOUBLE) - " +
          "CAST(sall AS DOUBLE) / CAST(call AS DOUBLE), 6)"
        val residT = "round(CAST(cents AS DOUBLE) - " +
          "CAST(swin AS DOUBLE) / CAST(cwin AS DOUBLE) - " +
          "(CAST(shod AS DOUBLE) / CAST(chod AS DOUBLE) - " +
          "CAST(sall AS DOUBLE) / CAST(call AS DOUBLE)), 6)"
        Some(s"""
          WITH hourly AS (
            SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS h,
                   hour(time_bucket(INTERVAL '1 hour', ts)) AS hod,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                     AS cents
            FROM events GROUP BY 1, 2, 3),
          win AS (
            SELECT *,
                   sum(cents) OVER (PARTITION BY event_type ORDER BY h
                     ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS swin,
                   count(*) OVER (PARTITION BY event_type ORDER BY h
                     ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS cwin
            FROM hourly),
          hodstats AS (
            SELECT event_type, hod, sum(cents) AS shod, count(*) AS chod
            FROM hourly GROUP BY 1, 2),
          allstats AS (
            SELECT event_type, sum(cents) AS sall, count(*) AS call
            FROM hourly GROUP BY 1)
          SELECT w.event_type, strftime(w.h, '%Y-%m-%d %H:%M') AS hour,
                 w.cents, $trendT AS trend, $seasT AS seasonal,
                 $residT AS resid
          FROM win w
          JOIN hodstats hs ON hs.event_type = w.event_type
                          AND hs.hod = w.hod
          JOIN allstats a ON a.event_type = w.event_type
          ORDER BY 1, 2""")
      },
      (s, dir) => {
        val trendT = "round(CAST(swin AS DOUBLE) / CAST(cwin AS DOUBLE), 6)"
        val seasT = "round(CAST(shod AS DOUBLE) / CAST(chod AS DOUBLE) - " +
          "CAST(sall AS DOUBLE) / CAST(call AS DOUBLE), 6)"
        val residT = "round(CAST(cents AS DOUBLE) - " +
          "CAST(swin AS DOUBLE) / CAST(cwin AS DOUBLE) - " +
          "(CAST(shod AS DOUBLE) / CAST(chod AS DOUBLE) - " +
          "CAST(sall AS DOUBLE) / CAST(call AS DOUBLE)), 6)"
        val hourly = t(s, dir, "events")
          .groupBy(col("event_type"),
            date_trunc("hour", col("ts")).as("h"))
          .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
          .withColumn("hod", hour(col("h")).cast("long"))
          .persist()
        val w = Window.partitionBy("event_type").orderBy("h")
          .rowsBetween(-12, 12)
        val win = hourly
          .withColumn("swin", sum("cents").over(w))
          .withColumn("cwin", count(lit(1)).over(w))
        val hodStats = hourly.groupBy("event_type", "hod")
          .agg(sum("cents").as("shod"), count(lit(1)).as("chod"))
        val allStats = hourly.groupBy("event_type")
          .agg(sum("cents").as("sall"), count(lit(1)).as("call"))
        win
          .join(broadcast(hodStats), Seq("event_type", "hod"))
          .join(broadcast(allStats), Seq("event_type"))
          .selectExpr("event_type",
            "date_format(h, 'yyyy-MM-dd HH:mm') AS hour", "cents",
            s"$trendT AS trend", s"$seasT AS seasonal", s"$residT AS resid")
          .orderBy("event_type", "hour")
      }),

    // ---- rolling regression slope (trend detection): the least-squares
    // slope of (hour, cents) over a trailing 25-hour frame, per type —
    // the monitoring primitive behind "is this metric drifting". All
    // four sufficient statistics are INTEGER window sums over the
    // hourly-aggregated series (exact, order-free; x is epoch-hours
    // re-based by a constant so products stay far inside BIGINT), and
    // the slope is one shared-text double division. Same time-bounded
    // partition shape as the decomposition above. Warm-up rows (frame
    // shorter than 13) emit NULL slope rather than a 1-point fit. ----
    Q(
      "ts_rolling_slope", {
        val slopeT = "CASE WHEN nw >= 13 AND " +
          "(nw * sxx - sx * sx) <> 0 THEN " +
          "round((CAST(nw AS DOUBLE) * CAST(sxy AS DOUBLE) - " +
          "CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / " +
          "(CAST(nw AS DOUBLE) * CAST(sxx AS DOUBLE) - " +
          "CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) " +
          "ELSE NULL END"
        Some(s"""
          WITH hourly AS (
            SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS h,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                     AS cents
            FROM events GROUP BY 1, 2),
          xy AS (
            SELECT event_type, h,
                   epoch(h)::BIGINT // 3600 - 480000 AS x, cents AS y
            FROM hourly),
          win AS (
            SELECT event_type, h,
                   count(*) OVER w AS nw,
                   sum(x) OVER w AS sx, sum(y) OVER w AS sy,
                   sum(x * y) OVER w AS sxy, sum(x * x) OVER w AS sxx
            FROM xy
            WINDOW w AS (PARTITION BY event_type ORDER BY h
                         ROWS BETWEEN 24 PRECEDING AND CURRENT ROW))
          SELECT event_type, strftime(h, '%Y-%m-%d %H:%M') AS hour,
                 CAST(nw AS BIGINT) AS nw, $slopeT AS slope
          FROM win ORDER BY 1, 2""")
      },
      (s, dir) => {
        val slopeT = "CASE WHEN nw >= 13 AND " +
          "(nw * sxx - sx * sx) <> 0 THEN " +
          "round((CAST(nw AS DOUBLE) * CAST(sxy AS DOUBLE) - " +
          "CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / " +
          "(CAST(nw AS DOUBLE) * CAST(sxx AS DOUBLE) - " +
          "CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) " +
          "ELSE NULL END"
        val xy = t(s, dir, "events")
          .groupBy(col("event_type"),
            date_trunc("hour", col("ts")).as("h"))
          .agg(sum(round(col("value") * 100).cast("long")).as("y"))
          .withColumn("x",
            expr("CAST(unix_timestamp(h) AS BIGINT) DIV 3600 - 480000"))
        val w = Window.partitionBy("event_type").orderBy("h")
          .rowsBetween(-24, 0)
        xy.withColumn("nw", count(lit(1)).over(w))
          .withColumn("sx", sum("x").over(w))
          .withColumn("sy", sum("y").over(w))
          .withColumn("sxy", sum(col("x") * col("y")).over(w))
          .withColumn("sxx", sum(col("x") * col("x")).over(w))
          .selectExpr("event_type",
            "date_format(h, 'yyyy-MM-dd HH:mm') AS hour",
            "CAST(nw AS BIGINT) AS nw", s"$slopeT AS slope")
          .orderBy("event_type", "hour")
      })
  )
}
