package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Q, QueryModule, Tables}
import graft.Tables.LineageOps

/** Warehouse/graph analytics the reference's lakehouse shape implies but
  * never spells out: slowly-changing-dimension history (the versioned
  * silver dimension a medallion pipeline maintains over re-crawled
  * listings — reference app/silver.py rewrites in place, losing history),
  * CDC changelog application (the incremental MERGE a bronze→silver hop
  * performs when the source emits upserts/deletes), iterative graph
  * analytics (PageRank / BFS as bounded-round BSP, the same loop shape as
  * dedup_cluster_keepers' label propagation), and theta-sketch set
  * algebra (segment-overlap distinct counts without per-pair rescans).
  *
  * Scale stance (100 TB):
  *   - SCD2/CDC are pure window queries partitioned by the business key —
  *     one hash shuffle each, no self-joins, no global sort except the
  *     bounded final output ordering;
  *   - PageRank/BFS iterate a FIXED number of rounds; each round is one
  *     keyed equi-join (ranks ⋈ edges, both sides hash-partitioned on the
  *     node key — a co-partitioned join under a shared partitioner on a
  *     real cluster) plus one groupBy shuffle; the frontier/rank state per
  *     round is O(nodes), never O(paths), because BFS anti-joins against
  *     the visited set and PageRank aggregates before the next round;
  *   - theta sketches reduce "distinct in A and B" to mergeable O(k)
  *     buffers: map-side partial agg, one exchange of kilobyte sketches,
  *     set algebra on the merged result — vs INTERSECT's full re-shuffle
  *     of both inputs.
  */
object Analytics extends QueryModule {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** µs-precision timestamp string — matches DuckDB strftime %f. */
  private val TsFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
  private val TsFmtDuck = "%Y-%m-%d %H:%M:%S.%f"

  /** Rows of a BSP-loop frame one task should own (the Dedup
    * .componentsLoop discipline): loops re-shuffle every round, so the
    * width floor (8) keeps test-scale graphs from drowning in task
    * launches while the edge-count numerator fans a 100×+ graph out
    * before any single task owns an OOM-sized slice. */
  private val LoopRowsPerTask = 1000000L

  /** Undirected bipartite part↔supplier graph from lineitem:
    * node ids: part → 2·l_partkey, supplier → 2·l_suppkey+1 (disjoint
    * integer node space, no string keys in the shuffle). */
  private def edges(s: SparkSession, dir: String): DataFrame = {
    val e0 = t(s, dir, "lineitem")
      .select((col("l_partkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
  }

  private val edgesSql =
    """e0 AS (SELECT DISTINCT l_partkey*2 AS src, l_suppkey*2+1 AS dst
      |             FROM lineitem),
      |e AS (SELECT src, dst FROM e0
      |      UNION ALL SELECT dst, src FROM e0)""".stripMargin

  /** Degree-ordered oriented edge list of the one-ship-year co-supplier
    * graph — the triangle query's candidate structure, shared with the
    * ScaleStress wedge probe so the "growth is join width, not blow-up"
    * claim is MEASURED (wedges_base/wedges_scaled in the artifact), not
    * argued from plan shape.
    *
    * One ship-year scope: the per-part pair enumeration is the
    * quadratic step (C(suppliers-per-part, 2) rows per part — same
    * shape as the n-gram dedup candidate join), so a motif query
    * scopes its snapshot; the filter reaches the parquet scan.
    * (degree, id) rank per vertex, then re-orient each undirected edge
    * from lower to higher rank — two equi-joins on the edge list
    * against the |V|-row degree table; wedge fan-out is then bounded
    * by arboricity O(√m), not by hub degree. */
  private[graft] def orientedCoSupplierEdges(
      s: SparkSession, dir: String): DataFrame = {
    val ps = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1997-01-01"))
      .select(col("l_partkey").as("p"), col("l_suppkey").as("sup"))
      .distinct()
    val und = ps.as("a")
      .join(ps.as("b"),
        col("a.p") === col("b.p") && col("a.sup") < col("b.sup"))
      .select(col("a.sup").as("u"), col("b.sup").as("v"))
      .distinct()
      .truncated // reused: degree count (both endpoints) + reorient
    val deg = und.select(col("u").as("vid"))
      .unionByName(und.select(col("v").as("vid")))
      .groupBy("vid").agg(count(lit(1)).as("d"))
    val uFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    und
      .join(deg.select(col("vid").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("vid").as("v"), col("d").as("dv")), "v")
      .select(
        when(uFirst, col("u")).otherwise(col("v")).as("lo"),
        when(uFirst, col("v")).otherwise(col("u")).as("hi"))
      .truncated // reused 3×: wedge build (2 sides) + closure
  }

  /** (oriented wedges, closed wedges) — the probe quantities behind the
    * triangle query's scale ratio. The wedge frame must STREAM through
    * the join exactly as the query streams it — a first cut
    * localCheckpointed it for reuse and a 100× graph's 1.7B wedges
    * filled the disk (40+ GB of block-manager store); recomputing the
    * join for the second aggregate costs two scans of the small edge
    * list, not a materialization of the quadratic intermediate. */
  private[graft] def triangleWedgeStats(
      s: SparkSession, dir: String): (Long, Long) = {
    val e = orientedCoSupplierEdges(s, dir)
    def wedges = e.as("e1")
      .join(e.as("e2"), col("e1.hi") === col("e2.lo"))
      .select(col("e1.lo").as("a"), col("e1.hi").as("b"),
        col("e2.hi").as("c"))
    val closed = wedges.join(e.as("e3"),
      col("a") === col("e3.lo") && col("c") === col("e3.hi"),
      "left_semi").count()
    (wedges.count(), closed)
  }

  val all: Seq[Q] = Seq(

    // ---- SCD Type-2 dimension build: collapse the per-user event_type
    // stream into versioned validity intervals (effective_from/to,
    // is_current). Two window passes over the same (user_id, ts) ordering
    // — Catalyst plans them in ONE Window exchange+sort. (user_id, ts) is
    // unique in the testdata, so ordering is total. ----
    Q(
      "scd2_dimension_build",
      Some(s"""
        WITH ord AS (
          SELECT user_id, ts, event_type,
                 lag(event_type) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS prev
          FROM events),
        v AS (SELECT user_id, ts, event_type FROM ord
              WHERE prev IS NULL OR prev <> event_type)
        SELECT user_id,
               CAST(row_number() OVER w AS BIGINT) AS version,
               event_type AS attr_value,
               strftime(ts, '$TsFmtDuck') AS eff_from,
               strftime(lead(ts) OVER w, '$TsFmtDuck') AS eff_to,
               lead(ts) OVER w IS NULL AS is_current
        FROM v WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ORDER BY user_id, version"""),
      (s, dir) => {
        val byKey = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val versions = t(s, dir, "events")
          .withColumn("prev", lag(col("event_type"), 1).over(byKey))
          .filter(col("prev").isNull || col("prev") =!= col("event_type"))
        val w = Window.partitionBy("user_id").orderBy("ts")
        versions.select(
          col("user_id"),
          row_number().over(w).cast("long").as("version"),
          col("event_type").as("attr_value"),
          date_format(col("ts"), TsFmt).as("eff_from"),
          date_format(lead(col("ts"), 1).over(w), TsFmt).as("eff_to"),
          lead(col("ts"), 1).over(w).isNull.as("is_current"))
          .orderBy("user_id", "version")
      }),

    // ---- point-in-time (PIT) join: enrich purchase facts with the SCD2
    // dimension version valid AT the fact's timestamp — the feature-store
    // correctness pattern (training joins must not leak future attribute
    // values). Keyed equi-join on the business key + interval containment
    // filter: per-key version counts are small (bounded by change rate),
    // so this is a plain hash join, never a cartesian; at 100 TB both
    // sides hash-partition on user_id. eff_from <= ts < eff_to with the
    // current (open) version capped at +infinity. ----
    Q(
      "join_point_in_time_scd2",
      Some(s"""
        WITH ord AS (
          SELECT user_id, ts, event_type,
                 lag(event_type) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS prev
          FROM events),
        v AS (SELECT user_id, ts, event_type FROM ord
              WHERE prev IS NULL OR prev <> event_type),
        dim AS (
          SELECT user_id,
                 CAST(row_number() OVER w AS BIGINT) AS version,
                 event_type AS attr_value,
                 ts AS eff_from,
                 lead(ts) OVER w AS eff_to
          FROM v WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        facts AS (SELECT event_id, user_id, ts FROM events
                  WHERE event_type = 'purchase')
        SELECT f.event_id, f.user_id,
               strftime(f.ts, '$TsFmtDuck') AS fact_ts,
               d.version, d.attr_value
        FROM facts f JOIN dim d
          ON f.user_id = d.user_id
         AND f.ts >= d.eff_from
         AND (d.eff_to IS NULL OR f.ts < d.eff_to)
        ORDER BY f.event_id"""),
      (s, dir) => {
        val byKey = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val w = Window.partitionBy("user_id").orderBy("ts")
        val dim = t(s, dir, "events")
          .withColumn("prev", lag(col("event_type"), 1).over(byKey))
          .filter(col("prev").isNull || col("prev") =!= col("event_type"))
          .select(
            col("user_id").as("d_user"),
            row_number().over(w).cast("long").as("version"),
            col("event_type").as("attr_value"),
            col("ts").as("eff_from"),
            lead(col("ts"), 1).over(w).as("eff_to"))
        val facts = t(s, dir, "events")
          .filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"))
        facts.join(dim,
            col("user_id") === col("d_user") &&
              col("ts") >= col("eff_from") &&
              (col("eff_to").isNull || col("ts") < col("eff_to")))
          .select(col("event_id"), col("user_id"),
            date_format(col("ts"), TsFmt).as("fact_ts"),
            col("version"), col("attr_value"))
          .orderBy("event_id")
      }),

    // ---- CDC changelog apply: treat events as a keyed changelog
    // (key=user_id, seq=(ts, event_id), op: 'error' rows are deletes,
    // everything else upserts) and materialize the end-state snapshot —
    // the MERGE a bronze→silver incremental hop performs. Latest-wins by
    // one ranking window, deletes dropped after ranking (a late delete
    // must beat earlier upserts). ----
    Q(
      "cdc_apply_changelog",
      Some(s"""
        WITH c AS (
          SELECT user_id, ts, event_id, event_type, value,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts DESC, event_id DESC) AS rn
          FROM events)
        SELECT user_id, event_type AS last_op,
               CAST(round(value * 100) AS BIGINT) AS last_value_cents,
               strftime(ts, '$TsFmtDuck') AS last_ts
        FROM c WHERE rn = 1 AND event_type <> 'error'
        ORDER BY user_id"""),
      (s, dir) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts").desc, col("event_id").desc)
        t(s, dir, "events")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1 && col("event_type") =!= "error")
          .select(
            col("user_id"),
            col("event_type").as("last_op"),
            round(col("value") * 100).cast("long").as("last_value_cents"),
            date_format(col("ts"), TsFmt).as("last_ts"))
          .orderBy("user_id")
      }),

    // ---- PageRank, 3 fixed iterations over the part↔supplier graph.
    // ALL-INTEGER arithmetic (ranks scaled to 1e12, integer division at
    // every step) so both engines compute bit-identical ranks — float
    // PageRank would diverge in summation order. Each iteration: one
    // keyed join (ranks ⋈ out-degree'd edges on the node key) + one
    // groupBy(dst) shuffle. No dangling nodes by construction (every
    // node of an undirected edge has out-degree ≥ 1). ----
    Q(
      "graph_pagerank_3iter",
      Some(s"""
        WITH $edgesSql,
        deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
        n AS (SELECT count(*) AS n FROM deg),
        r0 AS (SELECT src AS node, 1000000000000 // (SELECT n FROM n) AS r
               FROM deg),
        it1 AS (SELECT e.dst AS node,
                       CAST(((1000000000000 * 15) // 100) // (SELECT n FROM n)
                            + (85 * sum(r.r // d.deg)) // 100 AS BIGINT) AS r
                FROM r0 r JOIN e ON r.node = e.src JOIN deg d ON d.src = r.node
                GROUP BY 1),
        it2 AS (SELECT e.dst AS node,
                       CAST(((1000000000000 * 15) // 100) // (SELECT n FROM n)
                            + (85 * sum(r.r // d.deg)) // 100 AS BIGINT) AS r
                FROM it1 r JOIN e ON r.node = e.src JOIN deg d ON d.src = r.node
                GROUP BY 1),
        it3 AS (SELECT e.dst AS node,
                       CAST(((1000000000000 * 15) // 100) // (SELECT n FROM n)
                            + (85 * sum(r.r // d.deg)) // 100 AS BIGINT) AS r
                FROM it2 r JOIN e ON r.node = e.src JOIN deg d ON d.src = r.node
                GROUP BY 1)
        SELECT CAST(node AS BIGINT) AS node,
               CASE WHEN node % 2 = 1 THEN 'supplier' ELSE 'part' END
                 AS node_type,
               r AS rank_scaled
        FROM it3
        ORDER BY rank_scaled DESC, node LIMIT 20"""),
      (s, dir) => {
        val SCALE = 1000000000000L
        // BSP loop hygiene (same shape as Dedup.componentsLoop): truncate
        // lineage each round with localCheckpoint — without it the final
        // plan re-derives every prior round.
        // Loop shuffle width from the MEASURED edge count (the
        // componentsLoop discipline): the old fixed-8 pin OOM'd the
        // rank hashAgg in the 100× stress — 8 tasks each owning 1/8 of
        // a 100×-edge join is a memory bug, not a tuning choice. The
        // count is free off the materialized checkpoint; the 8-task
        // floor keeps per-round task-launch overhead negligible on
        // test-scale graphs. withLoopWidth pins AQE's
        // initialPartitionNum too, or the harness's session-wide value
        // would override the measured width.
        val e = edges(s, dir)
        val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
        // edge list with out-degree attached once, reused every round
        val eDeg = e.join(deg, "src").truncated
        Tables.withLoopWidth(s,
          math.max(8L, eDeg.count() / LoopRowsPerTask)) {
          val n = eDeg.select("src").distinct().count()
          val tele = ((SCALE * 15) / 100) / n
          // Lineage is LINEAR here — each iteration consumes the rank
          // frame exactly once — so per-iteration checkpoints were pure
          // materialization overhead (3 jobs + 3 block-store copies per
          // query), not re-derivation protection. Build the 3-iteration
          // chain lazily off the checkpointed eDeg and truncate ONCE at
          // the end, still inside withLoopWidth so the whole chain
          // executes at the measured width (round-16 optimization;
          // contrast componentsLoop, whose labels feed two joins per
          // round and genuinely need the per-round barrier).
          var ranks = eDeg.select(col("src").as("node")).distinct()
            .withColumn("r", lit(SCALE / n))
          for (_ <- 1 to 3) {
            // join keyed by OUTPUT-level names (the lazy rank chain now
            // shares lineage with eDeg, and dataframe-apply column refs
            // across shared lineage resolve ambiguously)
            ranks = ranks
              .withColumnRenamed("node", "rk_node")
              .join(eDeg, col("rk_node") === col("src"))
              .select(col("dst"), expr("r div deg").as("c"))
              .groupBy(col("dst").as("node"))
              .agg(expr(s"CAST($tele + (85 * sum(c)) div 100 AS BIGINT)").as("r"))
          }
          ranks = ranks.truncated
          ranks.select(
          col("node"),
          when(col("node") % 2 === 1, lit("supplier")).otherwise(lit("part"))
            .as("node_type"),
            col("r").as("rank_scaled"))
            .orderBy(col("rank_scaled").desc, col("node"))
            .limit(20)
        }
      }),

    // ---- BFS minimum-hop distance: 4 frontier rounds from nation-0
    // suppliers across the part↔supplier graph. Classic BSP frontier:
    // expand (join edges) → distinct → anti-join visited → union. Level-
    // order expansion means first discovery IS the minimum hop, which the
    // oracle re-derives independently as min(hop) over a recursive CTE.
    // State per round is O(nodes) (visited set), never O(paths). ----
    Q(
      "graph_bfs_min_hops",
      Some(s"""
        WITH RECURSIVE $edgesSql,
        seeds AS (SELECT DISTINCT s_suppkey*2+1 AS node
                  FROM supplier WHERE s_nationkey = 0),
        reach(node, hop) AS (
          SELECT node, 0 FROM seeds
          UNION
          SELECT e.dst, r.hop + 1
          FROM reach r JOIN e ON r.node = e.src
          WHERE r.hop < 4)
        SELECT CAST(node AS BIGINT) AS node,
               CASE WHEN node % 2 = 1 THEN 'supplier' ELSE 'part' END
                 AS node_type,
               CAST(min(hop) AS BIGINT) AS min_hop
        FROM reach GROUP BY 1, 2 ORDER BY 1"""),
      (s, dir) => {
        // per-round localCheckpoint: visited unions every round's frontier,
        // so WITHOUT truncation the final plan re-derives each expansion
        // once per later round (exponential recomputation); with it each
        // superstep reads materialized leaves — the BSP barrier made
        // explicit. Loop shuffle width sized from the measured edge
        // count like componentsLoop (floor 8); withLoopWidth pins AQE's
        // initialPartitionNum alongside shuffle.partitions.
        val e = edges(s, dir).truncated
        // measured-width loop sizing — see graph_pagerank_3iter
        Tables.withLoopWidth(s, math.max(8L, e.count() / LoopRowsPerTask)) {
          val seeds = t(s, dir, "supplier")
            .filter(col("s_nationkey") === 0)
            .select((col("s_suppkey") * 2 + 1).as("node"))
            .distinct()
          var visited = seeds.withColumn("min_hop", lit(0L)).truncated
          var frontier = seeds
          for (h <- 1 to 4) {
            val next = frontier
              .join(e, frontier("node") === e("src"))
              .select(col("dst").as("node"))
              .distinct()
              .join(visited.select("node"), Seq("node"), "left_anti")
              .truncated
            frontier = next
            // visited is a union of ≤ 5 CHECKPOINTED frontiers — trivial
            // lineage, so its own per-round truncation was one wasted
            // materialization per hop (round-16 optimization); `next`
            // keeps the barrier (it feeds both the expansion join and
            // the anti-join of the following round)
            visited = visited
              .union(next.withColumn("min_hop", lit(h.toLong)))
          }
          visited.select(
            col("node"),
            when(col("node") % 2 === 1, lit("supplier")).otherwise(lit("part"))
              .as("node_type"),
            col("min_hop"))
            .orderBy("node")
        }
      }),

    // ---- triangle counting (graph motif matching) on the co-supplier
    // graph: suppliers are adjacent iff they supply a common part. The
    // canonical distributed shape: orient every edge along a TOTAL
    // vertex order, then one self-join finds wedges and a second (with
    // an edge-existence semi-join) closes them — each triangle counted
    // exactly once, no cartesian. The order used is (degree, id) — the
    // standard 100 TB refinement over raw ids: out-degrees under degree
    // orientation are bounded by O(√m) (arboricity), so wedge fan-out
    // is bounded by the graph's structure instead of by which hub got a
    // low id. Cost: one degree aggregation + two edge-list joins (edge-
    // sized, not wedge-sized); the wedge/closure plan — two keyed
    // equi-joins — is unchanged, and so is the count (orientation-
    // invariant), so the oracle needs no replay of the ordering. ----
    Q(
      "graph_triangle_count",
      Some("""
        WITH ps AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s
                    FROM lineitem
                    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                      AND l_shipdate <  TIMESTAMP '1997-01-01'),
        e AS (SELECT DISTINCT a.s AS lo, b.s AS hi
              FROM ps a JOIN ps b ON a.p = b.p AND a.s < b.s),
        tri AS (
          SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
          FROM e e1 JOIN e e2 ON e1.hi = e2.lo
          WHERE EXISTS (SELECT 1 FROM e e3
                        WHERE e3.lo = e1.lo AND e3.hi = e2.hi))
        SELECT 'n_edges' AS metric, CAST(count(*) AS BIGINT) AS value FROM e
        UNION ALL
        SELECT 'n_triangles', CAST(count(*) AS BIGINT) FROM tri
        ORDER BY metric"""),
      (s, dir) => {
        val e = orientedCoSupplierEdges(s, dir)
        val wedges = e.as("e1")
          .join(e.as("e2"), col("e1.hi") === col("e2.lo"))
          .select(col("e1.lo").as("a"), col("e1.hi").as("b"),
            col("e2.hi").as("c"))
        val tri = wedges.join(e.as("e3"),
          col("a") === col("e3.lo") && col("c") === col("e3.hi"),
          "left_semi")
        e.agg(count(lit(1)).as("value"))
          .select(lit("n_edges").as("metric"), col("value"))
          .unionByName(tri.agg(count(lit(1)).as("value"))
            .select(lit("n_triangles").as("metric"), col("value")))
          .orderBy("metric")
      }),

    // ---- theta-sketch set algebra: distinct customers per order-status
    // segment and their overlap/difference — ONE scan building two
    // mergeable sketches (FILTER'd aggregates), then O(k) sketch algebra.
    // The oracle recomputes every figure exactly via INTERSECT / UNION /
    // EXCEPT; parity holds because lgK=15 keeps the sketches in exact
    // mode over this key domain (ThetaSketch scaladoc). ----
    Q(
      "agg_theta_set_ops",
      Some("""
        SELECT
          (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) FROM orders
            WHERE o_orderstatus = 'F') AS n_f,
          (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) FROM orders
            WHERE o_orderstatus = 'O') AS n_o,
          (SELECT CAST(count(*) AS BIGINT) FROM
            (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
             INTERSECT
             SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')) AS n_both,
          (SELECT CAST(count(*) AS BIGINT) FROM
            (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
             UNION
             SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')) AS n_either,
          (SELECT CAST(count(*) AS BIGINT) FROM
            (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
             EXCEPT
             SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')) AS n_f_only"""),
      (s, dir) => {
        t(s, dir, "orders")
          .agg(
            expr("theta_sketch_agg(o_custkey) FILTER (WHERE o_orderstatus = 'F')")
              .as("skf"),
            expr("theta_sketch_agg(o_custkey) FILTER (WHERE o_orderstatus = 'O')")
              .as("sko"))
          // runtime guard for the oracle's exactness precondition: fail
          // loudly if either input sketch saturated lgK (theta < 1)
          // instead of silently hash-mismatching at a larger SF
          .select(
            expr("theta_assert_exact(skf)").as("skf"),
            expr("theta_assert_exact(sko)").as("sko"))
          .select(
            expr("theta_estimate(skf)").as("n_f"),
            expr("theta_estimate(sko)").as("n_o"),
            expr("theta_intersect_est(skf, sko)").as("n_both"),
            expr("theta_union_est(skf, sko)").as("n_either"),
            expr("theta_anotb_est(skf, sko)").as("n_f_only"))
          // exact inputs make intersect/anotb exact, but the UNION can
          // still saturate on its own — inclusion-exclusion is an exact
          // invariant precisely when it didn't, so pin it here
          .select(
            col("n_f"), col("n_o"), col("n_both"),
            expr("IF(n_f + n_o - n_both = n_either, n_either, " +
              "raise_error('theta union left exact mode'))").as("n_either"),
            col("n_f_only"))
      }),

    // ---- funnel analysis: users progressing view → click (≤1 day after
    // first view) → purchase (≤1 day after that click). The sequential
    // dependency (each step's deadline derives from the previous step's
    // time) is expressed as three whole-partition window mins over the
    // SAME (user_id) partitioning — one exchange + one sort, the second
    // and third passes reuse them — then a single global distinct-count
    // roll-up. At 100 TB this is a per-user sorted scan: no self-joins,
    // no event×event blowup, state O(1) per user. ----
    Q(
      "analytics_funnel_steps",
      Some("""
        WITH a AS (
          SELECT user_id, event_type, ts,
                 min(CASE WHEN event_type = 'view' THEN ts END)
                   OVER (PARTITION BY user_id) AS t1
          FROM events),
        b AS (
          SELECT *, min(CASE WHEN event_type = 'click' AND ts > t1
                             AND ts <= t1 + INTERVAL '1 day' THEN ts END)
                   OVER (PARTITION BY user_id) AS t2
          FROM a),
        c AS (
          SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t2
                             AND ts <= t2 + INTERVAL '1 day' THEN ts END)
                   OVER (PARTITION BY user_id) AS t3
          FROM b)
        SELECT
          CAST(count(DISTINCT CASE WHEN t1 IS NOT NULL THEN user_id END)
            AS BIGINT) AS n_viewed,
          CAST(count(DISTINCT CASE WHEN t2 IS NOT NULL THEN user_id END)
            AS BIGINT) AS n_clicked,
          CAST(count(DISTINCT CASE WHEN t3 IS NOT NULL THEN user_id END)
            AS BIGINT) AS n_purchased
        FROM c"""),
      (s, dir) => {
        val w = Window.partitionBy("user_id")
        Tables.load(s, dir, "events")
          .select("user_id", "event_type", "ts")
          .withColumn("t1",
            min(when(col("event_type") === "view", col("ts"))).over(w))
          .withColumn("t2",
            min(when(col("event_type") === "click" &&
              col("ts") > col("t1") &&
              col("ts") <= col("t1") + expr("interval 1 day"),
              col("ts"))).over(w))
          .withColumn("t3",
            min(when(col("event_type") === "purchase" &&
              col("ts") > col("t2") &&
              col("ts") <= col("t2") + expr("interval 1 day"),
              col("ts"))).over(w))
          .agg(
            countDistinct(when(col("t1").isNotNull, col("user_id")))
              .as("n_viewed"),
            countDistinct(when(col("t2").isNotNull, col("user_id")))
              .as("n_clicked"),
            countDistinct(when(col("t3").isNotNull, col("user_id")))
              .as("n_purchased"))
      }),

    // ---- cohort retention: cohort = week of a user's first high-value
    // purchase (value > 90 keeps the activity sparse enough to decay);
    // each (cohort, offset) cell counts users still purchasing that many
    // weeks later. Two key-partitioned aggregations + one equi-join on
    // user_id — the (user, week) distinct pre-shrinks the fact before
    // anything joins, so the join input is bounded by users × weeks, not
    // by raw events. The classic growth-accounting query a BI user of
    // the reference's Thrift surface would run. ----
    Q(
      "analytics_cohort_retention",
      Some("""
        WITH weeks AS (
          SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
          FROM events WHERE event_type = 'purchase' AND value > 90),
        firsts AS (SELECT user_id, min(wk) AS cohort_wk
                   FROM weeks GROUP BY 1)
        SELECT CAST(f.cohort_wk AS VARCHAR) AS cohort_week,
               CAST((w.wk - f.cohort_wk) // 7 AS BIGINT) AS offset_weeks,
               CAST(count(DISTINCT w.user_id) AS BIGINT) AS n_active
        FROM weeks w JOIN firsts f USING (user_id)
        GROUP BY 1, 2 ORDER BY 1, 2"""),
      (s, dir) => {
        val weeks = Tables.load(s, dir, "events")
          .filter(col("event_type") === "purchase" && col("value") > 90)
          .select(col("user_id"),
            date_trunc("week", col("ts")).cast("date").as("wk"))
          .distinct()
        val firsts = weeks.groupBy("user_id")
          .agg(min(col("wk")).as("cohort_wk"))
        weeks.join(firsts, "user_id")
          .groupBy(col("cohort_wk").cast("string").as("cohort_week"),
            expr("CAST(datediff(wk, cohort_wk) DIV 7 AS BIGINT)")
              .as("offset_weeks"))
          .agg(countDistinct(col("user_id")).as("n_active"))
          .orderBy("cohort_week", "offset_weeks")
      }),

    // ---- fixed-width histogram (binned distribution in one pass):
    // bucket index is pure per-row arithmetic, so the whole histogram is
    // ONE map-side-combinable aggregation over ≤11 groups — the shape
    // that costs a single exchange of k rows per partition at any scale.
    // Engine-portable bucketing (floor + least, no width_bucket dialect
    // differences); integer-cents extremes avoid float summation ties. ----
    Q(
      "analytics_value_histogram",
      Some("""
        SELECT CAST(least(floor(o_totalprice / 50000), 9) AS BIGINT)
                 AS bucket,
               CAST(count(*) AS BIGINT) AS n,
               CAST(min(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS min_cents,
               CAST(max(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS max_cents
        FROM orders GROUP BY 1 ORDER BY 1"""),
      (s, dir) =>
        Tables.load(s, dir, "orders")
          .groupBy(least(floor(col("o_totalprice") / 50000), lit(9))
            .cast("long").as("bucket"))
          .agg(count(lit(1)).as("n"),
            min(round(col("o_totalprice") * 100).cast("long"))
              .as("min_cents"),
            max(round(col("o_totalprice") * 100).cast("long"))
              .as("max_cents"))
          .orderBy("bucket")),

    // ---- Last-touch marketing attribution: each purchase is credited
    // to the user's most recent preceding touch event (view / click /
    // signup) within a 1-day lookback; purchases with no in-window
    // touch are 'direct'. The carry is two IGNORE NULLS last_value
    // windows over ONE (user_id, ts, event_id) ordering — both pick the
    // same touch row because they null out on exactly the same rows, so
    // no self-join of the event stream ever happens (the classic
    // attribution anti-pattern at scale is purchases × touches). Share
    // is an integer micro floor-division. Scale: one shuffle on
    // user_id, then per-user sorted windows; output is bounded by the
    // touch-type dimension. ----
    Q(
      "analytics_attribution_last_touch",
      Some("""
        WITH c AS (
          SELECT event_type, ts,
                 last_value(CASE WHEN event_type IN ('view','click','signup')
                                 THEN event_type END IGNORE NULLS)
                   OVER w AS touch_type,
                 last_value(CASE WHEN event_type IN ('view','click','signup')
                                 THEN ts END IGNORE NULLS)
                   OVER w AS touch_ts
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        a AS (
          SELECT CASE WHEN touch_ts IS NOT NULL
                       AND touch_ts >= ts - INTERVAL 1 DAY
                      THEN touch_type ELSE 'direct' END AS touch
          FROM c WHERE event_type = 'purchase'),
        g AS (SELECT touch, CAST(count(*) AS BIGINT) AS n_purchases
              FROM a GROUP BY 1),
        tot AS (SELECT sum(n_purchases) AS t FROM g)
        SELECT touch, n_purchases,
               CAST(n_purchases * 1000000 // t AS BIGINT) AS share_micro
        FROM g CROSS JOIN tot ORDER BY touch"""),
      (s, dir) => {
        val touches = Seq("view", "click", "signup")
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val isTouch = col("event_type").isInCollection(touches)
        val c = t(s, dir, "events")
          .select(col("event_type"), col("ts"),
            last(when(isTouch, col("event_type")), ignoreNulls = true)
              .over(w).as("touch_type"),
            last(when(isTouch, col("ts")), ignoreNulls = true)
              .over(w).as("touch_ts"))
        val g = c.filter(col("event_type") === "purchase")
          .select(
            when(col("touch_ts").isNotNull &&
              col("touch_ts") >= col("ts") - expr("INTERVAL 1 DAY"),
              col("touch_type")).otherwise("direct").as("touch"))
          .groupBy("touch").agg(count(lit(1)).as("n_purchases"))
        val tot = g.agg(sum("n_purchases").as("t"))
        g.crossJoin(broadcast(tot))
          .select(col("touch"),
            col("n_purchases").cast("long").as("n_purchases"),
            expr("n_purchases * 1000000 div t").cast("long")
              .as("share_micro"))
          .orderBy("touch")
      })
  )
}
