package graft.operators

import java.lang.Math.{addExact, multiplyExact, subtractExact}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.StructType
import graft.{Q, QueryModule, Tables}

/** The ML train step closed ENGINE-side — the reference fits its model
  * driver-side after toPandas (reference airflow/dags/realestate_pipeline
  * .py:224-234: sklearn RandomForest + r² on a collected dataframe). At
  * 100 TB nothing fits in a driver, so the train step has to become what
  * it mathematically is: a handful of distributed aggregation passes.
  * This module implements the classic closed-form / fixed-iteration
  * trainers that way — k-means (Lloyd), logistic regression (full-batch
  * gradient descent), multi-feature OLS (normal equations), and feature
  * standardization — each as declarative DataFrame plans whose per-pass
  * cost is one scan + one single-row (or k-row) exchange.
  *
  * Cross-engine determinism (every query here is DuckDB-hash-oracled):
  *   - feature extraction is integer-exact (cents / small modulo ints),
  *     so SUMs are exact integers — order-independent, no float-sum
  *     digit flips (the gold_regression_fit discipline);
  *   - where a model evaluation is genuinely fractional (the logistic
  *     probability), the per-row gradient contribution is QUANTIZED to a
  *     1e-9 fixed-point grid and summed as BIGINT — the published
  *     deterministic-distributed-training trick (integer accumulation
  *     makes the reduction associative), and transcendentals are avoided
  *     entirely: the link is the rational "fast sigmoid"
  *     z ↦ 0.5 + z/(2(1+|z|)), IEEE-exact and identical in any engine;
  *   - iteration-carried scalars (centroids, weights) are ratios of
  *     exact integers, so both engines carry bit-identical doubles into
  *     the next pass.
  *
  * Scale shape: every iteration is ONE full scan + map-side partial
  * aggregation to a k-row (k ≤ 3) or 1-row table, which is then
  * broadcast back for the next pass — no shuffle of the fact table, no
  * driver-side data movement beyond the k-row model state. Iterations
  * are fixed-count and unrolled into one declarative plan. The tree
  * family is the one exception to "one declarative plan": its single
  * scan aggregates to ≤ 768 per-cell rows, which the driver collects
  * and fits on (see cellStats).
  */
object Learn extends QueryModule {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ---- shared feature extraction: integer-exact (see scaladoc) ----
  private def pricePoints(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").selectExpr(
      "CAST(o_orderkey % 500 AS DOUBLE) AS x",
      "CAST(round(o_totalprice * 100) AS DOUBLE) AS y")

  private val pricePointsSql = """
    SELECT CAST(o_orderkey % 500 AS DOUBLE) AS x,
           CAST(round(o_totalprice * 100) AS DOUBLE) AS y
    FROM orders"""

  /** One Lloyd assignment: nearest of the 3 centroids in the wide 1-row
    * table, ties broken toward the lower cluster id by the CASE order
    * (identical text in the oracle — no reliance on either engine's
    * min_by tie behavior). */
  private def assignExpr: Column = {
    def d(j: Int): Column =
      (col("x") - col(s"cx$j")) * (col("x") - col(s"cx$j")) +
        (col("y") - col(s"cy$j")) * (col("y") - col(s"cy$j"))
    when(d(0) <= d(1) && d(0) <= d(2), lit(0L))
      .when(d(1) <= d(2), lit(1L))
      .otherwise(lit(2L))
  }

  private def assignSql(pts: String, cents: String): String = {
    def d(j: Int) =
      s"(x-cx$j)*(x-cx$j)+(y-cy$j)*(y-cy$j)"
    s"""SELECT x, y,
          CASE WHEN ${d(0)} <= ${d(1)} AND ${d(0)} <= ${d(2)} THEN 0
               WHEN ${d(1)} <= ${d(2)} THEN 1
               ELSE 2 END AS c
        FROM $pts CROSS JOIN $cents"""
  }

  /** Per-cluster means, pivoted wide to one broadcastable row. Clusters
    * can't empty out here (price is dense across the whole range), and
    * the sums are integer-valued doubles < 2^53 → exact. */
  private def widen(assigned: DataFrame): DataFrame =
    assigned
      .groupBy("c")
      .agg((sum("x") / count(lit(1))).as("mx"),
        (sum("y") / count(lit(1))).as("my"))
      .agg(
        max(when(col("c") === 0, col("mx"))).as("cx0"),
        max(when(col("c") === 0, col("my"))).as("cy0"),
        max(when(col("c") === 1, col("mx"))).as("cx1"),
        max(when(col("c") === 1, col("my"))).as("cy1"),
        max(when(col("c") === 2, col("mx"))).as("cx2"),
        max(when(col("c") === 2, col("my"))).as("cy2"))

  private def widenSql(assigned: String) = s"""
    SELECT max(CASE WHEN c=0 THEN mx END) AS cx0,
           max(CASE WHEN c=0 THEN my END) AS cy0,
           max(CASE WHEN c=1 THEN mx END) AS cx1,
           max(CASE WHEN c=1 THEN my END) AS cy1,
           max(CASE WHEN c=2 THEN mx END) AS cx2,
           max(CASE WHEN c=2 THEN my END) AS cy2
    FROM (SELECT c, sum(x)/count(*) AS mx, sum(y)/count(*) AS my
          FROM $assigned GROUP BY c)"""

  // logistic-regression pieces (see scaladoc: fast sigmoid + fixed-point
  // gradient accumulation). One step: aggregate quantized gradient sums
  // under the current (w, b), then take w' = w − lr·ḡ.
  private val LrQ = 1e9 // fixed-point grid
  private def logregStep(pts: DataFrame, w: DataFrame): DataFrame =
    pts.crossJoin(broadcast(w))
      .withColumn("z", col("w") * col("x") + col("b"))
      .withColumn("p",
        lit(0.5) + col("z") / (lit(2.0) * (lit(1.0) + abs(col("z")))))
      .withColumn("e", col("p") - col("yl"))
      .agg(
        first("w").as("pw"), first("b").as("pb"),
        count(lit(1)).as("n"),
        sum(round(col("e") * col("x") * LrQ).cast("long")).as("gw"),
        sum(round(col("e") * LrQ).cast("long")).as("gb"),
        sum(round(col("e") * col("e") * LrQ).cast("long")).as("sq"))
      .selectExpr(
        s"pw - (CAST(gw AS DOUBLE) / $LrQ) / n AS w",
        s"pb - (CAST(gb AS DOUBLE) / $LrQ) / n AS b",
        "n",
        s"CAST(sq AS DOUBLE) / $LrQ AS sse")

  private def logregStepSql(pts: String, w: String) = s"""
    SELECT pw - (CAST(gw AS DOUBLE) / 1.0E9) / n AS w,
           pb - (CAST(gb AS DOUBLE) / 1.0E9) / n AS b,
           n,
           CAST(sq AS DOUBLE) / 1.0E9 AS sse
    FROM (
      SELECT max(w) AS pw, max(b) AS pb, count(*) AS n,
             sum(CAST(round(e * x * 1.0E9) AS BIGINT)) AS gw,
             sum(CAST(round(e * 1.0E9) AS BIGINT)) AS gb,
             sum(CAST(round(e * e * 1.0E9) AS BIGINT)) AS sq
      FROM (
        SELECT x, w, b,
               (0.5 + z / (2.0 * (1.0 + abs(z)))) - yl AS e
        FROM (SELECT x, yl, w, b, w * x + b AS z
              FROM $pts CROSS JOIN $w)))"""

  // shared Cramer / r² expression text for the 2-feature OLS — the SAME
  // strings run as Spark selectExpr and inside the DuckDB oracle, so the
  // double arithmetic is structurally identical on both sides.
  private val olsDetExprs = Seq(
    // det of [[n,s1,s2],[s1,s11,s12],[s2,s12,s22]] and Cramer numerators
    "n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2) + s2*(s1*s12 - s11*s2) AS det",
    "sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y) + s2*(s1y*s12 - s11*s2y) AS det0",
    "n*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2) + s2*(s1*s2y - s1y*s2) AS det1",
    "n*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2) + sy*(s1*s12 - s11*s2) AS det2")
  private val olsOutExprs = Seq(
    "CAST(n AS BIGINT) AS n",
    "round(det0/det, 6) AS b0",
    "round(det1/det, 6) AS b1",
    "round(det2/det, 6) AS b2",
    // SSE = Σy² − b·X'y ; SST = Σy² − (Σy)²/n ; r² = 1 − SSE/SST
    "round(1.0 - (syy - (det0/det)*sy - (det1/det)*s1y - (det2/det)*s2y)" +
      " / (syy - sy*sy/n), 6) AS r2")

  // full standalone OLS train SELECT / builder, shared by the
  // ml_linreg_two_features query and the ml_runs_log tracking sink
  private[graft] val olsFitSql: String = {
    val f = """
      SELECT CAST(o_orderkey % 500 AS BIGINT) AS x1,
             CAST(o_custkey % 300 AS BIGINT) AS x2,
             CAST(round(o_totalprice * 100) AS BIGINT) AS y
      FROM orders"""
    s"""
      WITH f AS ($f),
      sums AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               CAST(CAST(sum(x1) AS HUGEINT) AS DOUBLE) AS s1,
               CAST(CAST(sum(x2) AS HUGEINT) AS DOUBLE) AS s2,
               CAST(CAST(sum(y)  AS HUGEINT) AS DOUBLE) AS sy,
               CAST(CAST(sum(x1*x1) AS HUGEINT) AS DOUBLE) AS s11,
               CAST(CAST(sum(x1*x2) AS HUGEINT) AS DOUBLE) AS s12,
               CAST(CAST(sum(x2*x2) AS HUGEINT) AS DOUBLE) AS s22,
               CAST(CAST(sum(x1*y) AS HUGEINT) AS DOUBLE) AS s1y,
               CAST(CAST(sum(x2*y) AS HUGEINT) AS DOUBLE) AS s2y,
               CAST(sum(CAST(y AS HUGEINT)*y) AS DOUBLE) AS syy
        FROM f),
      dets AS (SELECT *, ${olsDetExprs.mkString(", ")} FROM sums)
      SELECT ${olsOutExprs.mkString(", ")} FROM dets"""
  }

  private[graft] def olsFitRow(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .selectExpr(
        "CAST(o_orderkey % 500 AS BIGINT) AS x1",
        "CAST(o_custkey % 300 AS BIGINT) AS x2",
        "CAST(round(o_totalprice * 100) AS BIGINT) AS y")
      .agg(
        expr("CAST(count(*) AS DOUBLE)").as("n"),
        expr("CAST(sum(CAST(x1 AS DECIMAL(38,0))) AS DOUBLE)").as("s1"),
        expr("CAST(sum(CAST(x2 AS DECIMAL(38,0))) AS DOUBLE)").as("s2"),
        expr("CAST(sum(CAST(y  AS DECIMAL(38,0))) AS DOUBLE)").as("sy"),
        expr("CAST(sum(CAST(x1*x1 AS DECIMAL(38,0))) AS DOUBLE)").as("s11"),
        expr("CAST(sum(CAST(x1*x2 AS DECIMAL(38,0))) AS DOUBLE)").as("s12"),
        expr("CAST(sum(CAST(x2*x2 AS DECIMAL(38,0))) AS DOUBLE)").as("s22"),
        expr("CAST(sum(CAST(x1*y AS DECIMAL(38,0))) AS DOUBLE)").as("s1y"),
        expr("CAST(sum(CAST(x2*y AS DECIMAL(38,0))) AS DOUBLE)").as("s2y"),
        expr("CAST(sum(CAST(y AS DECIMAL(38,0)) * y) AS DOUBLE)").as("syy"))
      .selectExpr(("*" +: olsDetExprs): _*)
      .selectExpr(olsOutExprs: _*)

  // ---- depth-2 histogram decision tree (regression) ----------------
  // The reference's literal model family is a tree ensemble
  // (airflow/dags/realestate_pipeline.py:224-234: sklearn
  // RandomForestRegressor + r² on a toPandas'd frame). A histogram tree
  // is the LightGBM/XGBoost-hist shape: bin the features once, and every
  // split then needs only its node's (feature, bin) → (count, Σy)
  // histogram. Those histograms are partial sums of per-cell statistics
  // (cellStats), so each query scans the data ONCE, in one aggregation
  // whose model-sized result is collected, and fits on the driver —
  // MLlib's own division of labour: executors build histograms, the
  // driver picks splits. The learner takes any (b1, b2, y) frame. The
  // DuckDB oracle replays the per-row form in SQL.
  //
  // Determinism: bins and the target are exact integers, so histogram
  // sums are exact longs and Σy²/SSE exact BigDecimals (DECIMAL(38,0)
  // on the Spark side); the split score Σl²/nl + Σr²/nr (maximizing it
  // ≡ minimizing SSE, since Σy² is constant) is computed in doubles in
  // treeScoreText's operation order, and argmax ties break by
  // (feat, bin) like the oracle's total ORDER BY — both engines learn
  // the bit-identical tree. The final r²/pred arithmetic runs in Spark
  // over a local model-sized frame, via expression text shared with the
  // oracle.

  private val TreeBins = 16

  private def treeFeatures(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").selectExpr(
      "CAST(o_orderkey AS BIGINT) AS k",
      s"CAST(o_orderkey % 500 AS BIGINT) * $TreeBins DIV 500 AS b1",
      s"CAST(o_custkey % 300 AS BIGINT) * $TreeBins DIV 300 AS b2",
      "CAST(round(o_totalprice * 100) AS BIGINT) AS y")

  private val treeFeaturesSql = s"""
    SELECT CAST(o_orderkey AS BIGINT) AS k,
           (o_orderkey % 500) * $TreeBins // 500 AS b1,
           (o_custkey % 300) * $TreeBins // 300 AS b2,
           CAST(round(o_totalprice * 100) AS BIGINT) AS y
    FROM orders"""

  /** Sufficient statistics of one feature cell: its extra key (bag id,
    * train flag; null without one), its bins, and (n, Σy, Σy²). */
  private[graft] final case class Cell(key: Any, b1: Long, b2: Long,
      cn: Long, csy: Long, csyy: java.math.BigDecimal)

  /** One scan to per-cell sufficient statistics, collected. Every
    * prediction a fixed-depth stump/tree/forest in this family makes is
    * CONSTANT on a (b1, b2) cell — all splits test b1/b2 against
    * thresholds — so every histogram, leaf mean, residual update and
    * squared-error sum the training/eval chain needs is exactly
    * derivable from (n, Σy, Σy²) per cell:
    *
    *   hist(feat, bin)   = Σ_cells (cn, csy) grouped by the feat's bin
    *   residual csy      = csy − cn·P(cell)
    *   residual csyy     = csyy − 2·P·csy + cn·P²     (all integers)
    *   SSE               = Σ_cells residual csyy
    *
    * The map-side combine bounds the aggregate state by the cell count,
    * so the result has ≤ TreeBins² (× key values) rows at any corpus
    * size and comes to the driver in ONE collect; every level, boosting
    * round and eval pass runs there. `f` has BIGINT b1, b2, y (plus
    * `key`); Σy² accumulates in DECIMAL(38,0), so every derived figure
    * is bit-identical to the per-row computation the oracle replays. */
  private[graft] def cellStats(f: DataFrame, key: Option[String] = None)
      : Seq[Cell] = {
    val o = key.size
    f.groupBy((key.toSeq ++ Seq("b1", "b2")).map(col): _*)
      .agg(count(lit(1)).as("cn"), sum("y").as("csy"),
        expr("sum(CAST(y AS DECIMAL(38,0)) * y)").as("csyy"))
      .collect().toSeq.map(r => Cell(if (o == 1) r.get(0) else null,
        r.getLong(o), r.getLong(o + 1), r.getLong(o + 2), r.getLong(o + 3),
        r.getDecimal(o + 4)))
  }

  /** A split: feature `feat`'s bin (1 → b1, 2 → b2) `<= thr` goes left. */
  private[graft] final case class Split(feat: Long, thr: Long) {
    def left(c: Cell): Boolean =
      (feat == 1 && c.b1 <= thr) || (feat == 2 && c.b2 <= thr)
    def side(c: Cell): Long = if (left(c)) 0L else 1L
  }

  private def plus(a: (Long, Long), b: (Long, Long)): (Long, Long) =
    (addExact(a._1, b._1), addExact(a._2, b._2))

  /** (n, Σy) of a non-empty cell set. */
  private def nSy(cells: Seq[Cell]): (Long, Long) =
    cells.map(c => (c.cn, c.csy)).reduce(plus)

  // variance-reduction split score over doubles CAST from exact integer
  // sums — the oracle's text; bestSplit evaluates the same arithmetic in
  // the same order (the OLS/Cramer discipline)
  private val treeScoreText =
    "CAST(syl AS DOUBLE) * CAST(syl AS DOUBLE) / CAST(nl AS DOUBLE) + " +
      "CAST(syr AS DOUBLE) * CAST(syr AS DOUBLE) / CAST(nr AS DOUBLE)"

  private val bestFirst: Ordering[(Double, Long, Long)] = Ordering.Tuple3(
    Ordering.Double.TotalOrdering.reverse, Ordering.Long, Ordering.Long)

  /** The best split of `cells`: per feature, the histogram over the bins
    * present, cumulative (left-side) sums in bin order, thresholds with
    * an empty side dropped, scored as treeScoreText; highest score
    * first, ties by (feat, bin). None when every cell sits in one bin
    * on both features. */
  private def bestSplit(cells: Seq[Cell]): Option[Split] =
    Seq(1L, 2L).flatMap { feat =>
      val hist = cells.groupMapReduce(c => if (feat == 1) c.b1 else c.b2)(
        c => (c.cn, c.csy))(plus).toSeq.sortBy(_._1)
      val (nt, syt) = hist.map(_._2).foldLeft((0L, 0L))(plus)
      var nl, syl = 0L
      hist.flatMap { case (bin, (n, sy)) =>
        nl = addExact(nl, n)
        syl = addExact(syl, sy)
        val (nr, syr) = (subtractExact(nt, nl), subtractExact(syt, syl))
        if (nl > 0 && nr > 0) Some((syl.toDouble * syl.toDouble /
          nl.toDouble + syr.toDouble * syr.toDouble / nr.toDouble, feat, bin))
        else None
      }
    }.minOption(bestFirst).map { case (_, feat, bin) => Split(feat, bin) }

  private def treeSplitsSql(h: String, part: String): String = s"""
    SELECT *, $treeScoreText AS score
    FROM (
      SELECT *, nt - nl AS nr, syt - syl AS syr
      FROM (
        SELECT *,
          sum(n) OVER (PARTITION BY $part ORDER BY bin
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nl,
          sum(sy) OVER (PARTITION BY $part ORDER BY bin
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS syl,
          sum(n) OVER (PARTITION BY $part) AS nt,
          sum(sy) OVER (PARTITION BY $part) AS syt
        FROM $h))
    WHERE nl > 0 AND nr > 0"""

  /** A fitted depth-2 tree: the root split, each level-1 node's split,
    * and each leaf's (n, Σy). A node whose cells all sit in one bin on
    * both features has no split, and its cells drop out of scoring, as
    * the oracle's inner joins drop them. */
  private[graft] final case class Tree(root: Split, kids: Map[Long, Split],
      leaves: Map[Long, (Long, Long)]) {
    def leaf(c: Cell): Option[Long] =
      kids.get(root.side(c)).map(k => root.side(c) * 2 + k.side(c))
    /** Integer-cents leaf mean (Σy DIV n); None for a dropped cell. */
    def predict(c: Cell): Option[Long] =
      leaf(c).map { l => val (n, sy) = leaves(l); sy / n }
  }

  /** Learn the depth-2 tree from collected cells: the root split, then
    * one split per level-1 node from that node's cells. None when the
    * root has no split. */
  private[graft] def treeFit(cells: Seq[Cell]): Option[Tree] =
    bestSplit(cells).map { root =>
      val shape = Tree(root, cells.groupBy(root.side)
        .flatMap { case (node, cs) => bestSplit(cs).map(node -> _) }, Map.empty)
      shape.copy(leaves = cells.groupBy(shape.leaf)
        .collect { case (Some(l), cs) => l -> nSy(cs) })
    }

  /** Oracle counterpart of Tree.predict: score EVERY row of `f` with
    * tree `p` (the train CTEs are bag-scoped; scoring is corpus-wide). */
  private def treeScoreSql(p: String, out: String): String = s"""
    ${p}sa AS (
      SELECT f.*, CASE WHEN (root_feat = 1 AND b1 <= root_thr)
                        OR (root_feat = 2 AND b2 <= root_thr)
                  THEN 0 ELSE 1 END AS node
      FROM f CROSS JOIN ${p}best0),
    ${p}px AS (
      SELECT s.k, s.y, pr.p AS $out
      FROM (
        SELECT a.k, a.y, a.node * 2 +
               CASE WHEN (b.split_feat = 1 AND a.b1 <= b.split_thr)
                     OR (b.split_feat = 2 AND a.b2 <= b.split_thr)
               THEN 0 ELSE 1 END AS leaf
        FROM ${p}sa a JOIN ${p}best1 b ON a.node = b.node) s
      JOIN (SELECT leaf, sy // n AS p FROM ${p}leaves) pr
        USING (leaf))"""

  /** A depth-1 fit: the root split and its two sides' integer-cents
    * means. */
  private[graft] final case class Stump(split: Split, pl: Long, pr: Long) {
    def predict(c: Cell): Long = if (split.left(c)) pl else pr
  }

  /** Depth-1 fit (a stump) from collected cells: the root split and the
    * two side means, both partial sums of the SAME level-0 histogram.
    * The value is whatever the cells' csy holds, which is how boosting
    * reuses this: round k fits the integer residuals of the rounds
    * before it ([[resid]]). */
  private[graft] def stumpFit(cells: Seq[Cell]): Option[Stump] =
    bestSplit(cells).map { sp =>
      val (l, r) = cells.partition(sp.left)
      val ((nl, syl), (nr, syr)) = (nSy(l), nSy(r))
      Stump(sp, syl / nl, syr / nr)
    }

  private def dec(x: Long) = java.math.BigDecimal.valueOf(x)

  /** A cell's exact integer residual under prediction p (csyy BEFORE
    * csy — the cross term needs the pre-update Σy). Residuals compose:
    * resid(resid(c, a), b) = resid(c, a + b). */
  private def resid(c: Cell, p: Long): Cell =
    c.copy(csy = subtractExact(c.csy, multiplyExact(c.cn, p)),
      csyy = c.csyy.subtract(dec(2).multiply(dec(p)).multiply(dec(c.csy)))
        .add(dec(c.cn).multiply(dec(p)).multiply(dec(p))))

  /** Oracle CTEs: fit one stump on `$src` (same h0/s0/best0 chain as the
    * tree, then 2-row side sums) and score+update residuals over it. */
  private def stumpCtes(src: String, p: String): String = s"""
    ${p}h0 AS (
      SELECT feat, bin, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS sy
      FROM (SELECT 1 AS feat, b1 AS bin, y FROM $src
            UNION ALL SELECT 2 AS feat, b2 AS bin, y FROM $src)
      GROUP BY 1, 2),
    ${p}s0 AS (${treeSplitsSql(s"${p}h0", "feat")}),
    ${p}b AS (SELECT feat AS sfeat, bin AS sthr FROM ${p}s0
              ORDER BY score DESC, feat, bin LIMIT 1),
    ${p}m AS (
      SELECT sfeat, sthr,
             max(CASE WHEN side = 0 THEN p END) AS pl,
             max(CASE WHEN side = 1 THEN p END) AS pr
      FROM (
        SELECT b.sfeat, b.sthr,
               CASE WHEN h.bin <= b.sthr THEN 0 ELSE 1 END AS side,
               CAST(sum(h.sy) AS BIGINT) // CAST(sum(h.n) AS BIGINT) AS p
        FROM ${p}h0 h JOIN ${p}b b ON h.feat = b.sfeat
        GROUP BY 1, 2, 3)
      GROUP BY 1, 2),
    ${p}r AS (
      SELECT k, b1, b2, y0, y -
             CASE WHEN (sfeat = 1 AND b1 <= sthr) OR (sfeat = 2 AND b2 <= sthr)
             THEN pl ELSE pr END AS y
      FROM $src CROSS JOIN ${p}m)"""

  /** Oracle CTE chain learning one depth-2 tree from `$src`; every CTE
    * name takes prefix `p` so several trees (the bagged forest) can
    * coexist in one WITH. The un-prefixed instance serves the two
    * single-tree queries. */
  private def treeTrainCtes(src: String, p: String): String = s"""
    ${p}h0 AS (
      SELECT feat, bin, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS sy
      FROM (SELECT 1 AS feat, b1 AS bin, y FROM $src
            UNION ALL SELECT 2 AS feat, b2 AS bin, y FROM $src)
      GROUP BY 1, 2),
    ${p}s0 AS (${treeSplitsSql(s"${p}h0", "feat")}),
    ${p}best0 AS (SELECT feat AS root_feat, bin AS root_thr FROM ${p}s0
              ORDER BY score DESC, feat, bin LIMIT 1),
    ${p}fa AS (
      SELECT $src.*, CASE WHEN (root_feat = 1 AND b1 <= root_thr)
                        OR (root_feat = 2 AND b2 <= root_thr)
                  THEN 0 ELSE 1 END AS node
      FROM $src CROSS JOIN ${p}best0),
    ${p}h1 AS (
      SELECT node, feat, bin, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS sy
      FROM (SELECT node, 1 AS feat, b1 AS bin, y FROM ${p}fa
            UNION ALL SELECT node, 2 AS feat, b2 AS bin, y FROM ${p}fa)
      GROUP BY 1, 2, 3),
    ${p}s1 AS (${treeSplitsSql(s"${p}h1", "node, feat")}),
    ${p}best1 AS (
      SELECT node, feat AS split_feat, bin AS split_thr FROM (
        SELECT *, row_number() OVER (PARTITION BY node
          ORDER BY score DESC, feat, bin) AS rn FROM ${p}s1)
      WHERE rn = 1),
    ${p}leaves AS (
      SELECT h.node * 2 + CASE WHEN h.bin <= b.split_thr
                               THEN 0 ELSE 1 END AS leaf,
             b.split_feat, b.split_thr,
             CAST(sum(h.n) AS BIGINT) AS n, CAST(sum(h.sy) AS BIGINT) AS sy
      FROM ${p}h1 h JOIN ${p}best1 b
        ON h.node = b.node AND h.feat = b.split_feat
      GROUP BY 1, 2, 3)"""

  // shared oracle CTE chain for the two single-tree queries
  private def treeOracleCtes = s"""
    f AS ($treeFeaturesSql),
    ${treeTrainCtes("f", "")}"""

  // r² from exact integer sums, final arithmetic in shared double text
  private val treeR2Text =
    "round(1.0 - CAST(sse AS DOUBLE) / (CAST(syy AS DOUBLE) - " +
      "CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)), 6)" +
      " AS r2"

  // full standalone tree-eval SELECT / builder, shared by the ml_tree_r2
  // query and the ml_runs_log tracking sink
  private[graft] def treeR2Sql: String = s"""
    WITH $treeOracleCtes,
    preds AS (SELECT leaf, sy // n AS p FROM leaves),
    scored AS (
      SELECT fa.y, fa.node * 2 +
             CASE WHEN (b.split_feat = 1 AND fa.b1 <= b.split_thr)
                   OR (b.split_feat = 2 AND fa.b2 <= b.split_thr)
             THEN 0 ELSE 1 END AS leaf
      FROM fa JOIN best1 b ON fa.node = b.node),
    ev AS (
      SELECT count(*) AS n,
             sum(CAST(e * e AS HUGEINT)) AS sse,
             sum(CAST(y AS HUGEINT)) AS sy,
             sum(CAST(y AS HUGEINT) * y) AS syy
      FROM (SELECT s.y, s.y - p.p AS e
            FROM scored s JOIN preds p USING (leaf)))
    SELECT CAST(n AS BIGINT) AS n, $treeR2Text FROM ev"""

  private val evalDdl =
    "n BIGINT, sse DECIMAL(38,0), sy DECIMAL(38,0), syy DECIMAL(38,0)"

  /** (n, sse, Σy, Σy²) over (cell, prediction) pairs, exact; with no
    * rows every sum is null, as SQL SUM over an empty input. */
  private[graft] def evalSums(scored: Seq[(Cell, Long)],
      rows: Boolean): Seq[Any] = {
    def total(xs: Seq[java.math.BigDecimal]) =
      xs.foldLeft(java.math.BigDecimal.ZERO)(_ add _)
    if (!rows) Seq(null, null, null, null)
    else Seq(scored.map(_._1.cn).foldLeft(0L)(addExact),
      total(scored.map { case (c, p) => resid(c, p).csyy }),
      total(scored.map(x => dec(x._1.csy))), total(scored.map(_._1.csyy)))
  }

  /** A local frame of model-sized rows under `ddl`. Projections over it
    * fold into the relation at optimization, so reading it runs no job. */
  private def localFrame(s: SparkSession, ddl: String,
      rows: Seq[Seq[Any]]): DataFrame =
    s.createDataFrame(rows.map(Row.fromSeq).asJava, StructType.fromDDL(ddl))

  /** Depth-2 tree train + eval r² (ml_tree_r2, and the tree run that
    * ml_runs_log logs): one data scan (cellStats); fit, scoring and SSE
    * on the driver's cells. */
  private def treeR2Row(s: SparkSession, dir: String): DataFrame = {
    val cells = cellStats(treeFeatures(s, dir))
    val scored = treeFit(cells).toSeq
      .flatMap(t => cells.flatMap(c => t.predict(c).map(c -> _)))
    localFrame(s, evalDdl, Seq(evalSums(scored, scored.nonEmpty)))
      .selectExpr("CAST(n AS BIGINT) AS n", treeR2Text)
  }

  /** ml_forest_bagged body: one cell-stats scan with the bag as the cell
    * key; each tree trains on its bag's cells, and the ensemble SSE
    * expands exactly from the bag-summed cells because the averaged
    * prediction is constant per (b1, b2) cell. */
  private def forestRow(s: SparkSession, dir: String): DataFrame = {
    val cells = cellStats(
      treeFeatures(s, dir).withColumn("bag", col("k") % 3), Some("bag"))
    val trees = (0L to 2L).flatMap(b => treeFit(cells.filter(_.key == b)))
    val merged = cells.groupBy(c => (c.b1, c.b2)).values.toSeq
      .map(_.reduce((a, b) => a.copy(cn = addExact(a.cn, b.cn),
        csy = addExact(a.csy, b.csy), csyy = a.csyy.add(b.csyy))))
    val scored = merged.flatMap { c =>
      val ps = trees.flatMap(_.predict(c))
      if (ps.size == 3) Some(c -> ps.foldLeft(0L)(addExact) / 3) else None
    }
    val rows = if (trees.size < 3) Nil else Seq(evalSums(scored,
      scored.nonEmpty) ++ trees.flatMap(t => Seq(t.root.feat, t.root.thr)))
    localFrame(s, evalDdl + (0 to 2).map(i =>
        s", rf$i BIGINT NOT NULL, rt$i BIGINT").mkString, rows)
      .selectExpr(Seq("CAST(n AS BIGINT) AS n",
        "CAST(rf0 AS BIGINT) AS rf0", "CAST(rt0 AS BIGINT) AS rt0",
        "CAST(rf1 AS BIGINT) AS rf1", "CAST(rt1 AS BIGINT) AS rt1",
        "CAST(rf2 AS BIGINT) AS rf2", "CAST(rt2 AS BIGINT) AS rt2",
        treeR2Text): _*)
  }

  /** ml_gbt_stumps body: the 3-round boosting chain on the cells. Round
    * k fits the residuals of the rounds before it, and the train SSE is
    * the cells' residual under all three rounds' summed prediction. */
  private def gbtRow(s: SparkSession, dir: String): DataFrame = {
    val cells = cellStats(treeFeatures(s, dir))
    def pred(ms: Seq[Stump], c: Cell) =
      ms.map(_.predict(c)).foldLeft(0L)(addExact)
    val stumps = (0 until 3).foldLeft(Vector.empty[Stump]) { (ms, _) =>
      ms ++ stumpFit(cells.map(c => resid(c, pred(ms, c))))
    }
    val scored = cells.map(c => c -> pred(stumps, c))
    val rows = if (stumps.size < 3) Nil else Seq(evalSums(scored,
      scored.nonEmpty) ++ stumps.flatMap(m =>
        Seq(m.split.feat, m.split.thr, m.pl, m.pr)))
    localFrame(s, evalDdl + (0 to 2).map(i =>
        s", sf$i BIGINT NOT NULL, st$i BIGINT, pl$i BIGINT, pr$i BIGINT")
        .mkString, rows)
      .selectExpr(Seq("CAST(n AS BIGINT) AS n") ++
        (0 to 2).flatMap(i => Seq(
          s"CAST(sf$i AS BIGINT) AS sf$i", s"CAST(st$i AS BIGINT) AS st$i",
          s"CAST(pl$i AS BIGINT) AS pl$i", s"CAST(pr$i AS BIGINT) AS pr$i"))
        :+ treeR2Text: _*)
  }

  /** pipeline_model_eval body: one cell-stats pass with the train/test
    * flag as the cell key; the stump fits on the train cells, and the
    * holdout SSE is the test cells' residual Σy². */
  private def modelEvalRow(s: SparkSession, dir: String): DataFrame = {
    val inTrain =
      "substr(md5(CAST(k AS STRING) || ':spl'), 1, 1) < 'd'"
    val cells = cellStats(
      treeFeatures(s, dir).withColumn("tr", expr(inTrain)), Some("tr"))
    val (train, test) = cells.partition(_.key == true)
    val rows = stumpFit(train).toSeq.map(m =>
      train.map(_.cn).foldLeft(0L)(addExact) +:
        (evalSums(test.map(c => c -> m.predict(c)), rows = true) ++
          Seq(m.split.feat, m.split.thr, m.pl, m.pr)))
    localFrame(s, "n_train BIGINT, " + evalDdl + ", sfeat BIGINT NOT NULL, " +
        "sthr BIGINT, pl BIGINT, pr BIGINT", rows)
      .selectExpr("CAST(n_train AS BIGINT) AS n_train",
        "CAST(n AS BIGINT) AS n_test",
        "CAST(sfeat AS BIGINT) AS sfeat", "CAST(sthr AS BIGINT) AS sthr",
        "CAST(pl AS BIGINT) AS pl", "CAST(pr AS BIGINT) AS pr",
        treeR2Text)
  }

  // shared expression text for the one-scan 3-fold CV (see the query's
  // comment): slope/intercept from complement (train) sums, holdout SSE
  // expanded algebraically from the fold's own sums
  private def cvD(c: String) = s"CAST($c AS DOUBLE)"
  private val cvSlope =
    s"(${cvD("tn")}*${cvD("tsxy")} - ${cvD("tsx")}*${cvD("tsy")}) / " +
      s"(${cvD("tn")}*${cvD("tsxx")} - ${cvD("tsx")}*${cvD("tsx")})"
  private val cvIcept = s"(${cvD("tsy")} - slope * ${cvD("tsx")}) / ${cvD("tn")}"
  private val cvSse =
    s"${cvD("syy")} - 2*icept*${cvD("sy")} - 2*slope*${cvD("sxy")} + " +
      s"2*icept*slope*${cvD("sx")} + icept*icept*${cvD("n")} + " +
      s"slope*slope*${cvD("sxx")}"
  private val cvR2 =
    s"1.0 - (sse) / (${cvD("syy")} - ${cvD("sy")}*${cvD("sy")}/${cvD("n")})"

  // ---- engine-side binary-classifier evaluation (AUC / confusion) ----
  // Label: high order priority; score: the order's price in exact cents.
  // The AUC is computed from the SCORE HISTOGRAM, not the row ranking:
  // group rows by exact integer score (one hash shuffle on cents — its
  // cardinality is bounded by the price DOMAIN, not the row count), then
  // 2·U = Σ_groups pos_g · (2·cum_neg_below_g + neg_g), which counts
  // each (pos, neg) pair once for a win and once-per-side for a tie —
  // all exact integer arithmetic, so the rank-sum is order-independent.
  private val aucScoredSql = """
    SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS sc,
           CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END AS pos
    FROM orders"""

  private def aucScored(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").selectExpr(
      "CAST(round(o_totalprice * 100) AS BIGINT) AS sc",
      "CAST(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') " +
        "THEN 1 ELSE 0 END AS BIGINT) AS pos")

  /** Exclusive prefix sum of `valCol` over rows totally ordered by
    * `key`, without a single-partition window: range-partition on the
    * key, per-partition window, then add broadcast per-partition offset
    * totals — the same TeraSort two-pass Curation.globalRowNumber uses
    * (Curation.scala scaladoc). The offsets frame is ≤ one row per
    * shuffle partition (metadata, not data). */
  private def exclusivePrefixSum(df: DataFrame, key: String,
      valCol: String, outCol: String): DataFrame = {
    val nParts = df.sparkSession.sessionState.conf.numShufflePartitions
    val ranged = df.repartitionByRange(nParts, col(key))
      .sortWithinPartitions(key)
      .withColumn("__pid", spark_partition_id())
      .persist()
    // pmod(__pid, 1): constant 0 but non-foldable — single partition
    // either way (≤ one row per shuffle partition), without the "No
    // Partition Defined" warning (lit(0) would be optimizer-eliminated)
    val offsets = ranged.groupBy("__pid")
      .agg(sum(col(valCol)).as("__tot"))
      .withColumn("__off",
        coalesce(sum(col("__tot")).over(
          Window.partitionBy(pmod(col("__pid"), lit(1))).orderBy("__pid")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__pid"), col("__off"))
    ranged.join(broadcast(offsets), "__pid")
      .withColumn(outCol,
        col("__off") + coalesce(sum(col(valCol)).over(
          Window.partitionBy("__pid").orderBy(key)
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .drop("__pid", "__off")
  }

  // final AUC arithmetic in expression text shared with the oracle —
  // two double multiplies + one divide, IEEE-identical in any engine
  private val aucText =
    "round(CAST(u2 AS DOUBLE) / (2.0 * CAST(n_pos AS DOUBLE) * " +
      "CAST(n_neg AS DOUBLE)), 6) AS auc"

  val all: Seq[Q] = Seq(

    // ---- k-means, k=3, 2 fixed Lloyd iterations unrolled. Each
    // iteration: one scan (assignment is a row-local CASE against the
    // broadcast 1-row centroid table) + a map-side partial aggregation
    // to k rows. The fixed iteration count is the determinism pin AND
    // the scale pin (convergence-looped k-means runs the same plan per
    // round; the BSP graph family already demonstrates loop-until-
    // converged with lineage truncation). ----
    Q(
      "ml_kmeans_fixed_iters",
      Some(s"""
        WITH pts AS ($pricePointsSql),
        c1 AS (SELECT 100.0 AS cx0, 5000000.0 AS cy0,
                      250.0 AS cx1, 25000000.0 AS cy1,
                      400.0 AS cx2, 45000000.0 AS cy2),
        a1 AS (${assignSql("pts", "c1")}),
        c2 AS (${widenSql("a1")}),
        a2 AS (${assignSql("pts", "c2")})
        SELECT CAST(c AS BIGINT) AS cluster, CAST(count(*) AS BIGINT) AS n,
               round(sum(x)/count(*), 4) AS cx,
               round(sum(y)/count(*), 4) AS cy
        FROM a2 GROUP BY c ORDER BY cluster"""),
      (s, dir) => {
        val pts = pricePoints(s, dir)
        val c1 = s.range(1).select(
          lit(100.0).as("cx0"), lit(5000000.0).as("cy0"),
          lit(250.0).as("cx1"), lit(25000000.0).as("cy1"),
          lit(400.0).as("cx2"), lit(45000000.0).as("cy2"))
        val a1 = pts.crossJoin(broadcast(c1)).withColumn("c", assignExpr)
        val c2 = widen(a1)
        val a2 = pts.crossJoin(broadcast(c2)).withColumn("c", assignExpr)
        a2.groupBy(col("c").as("cluster"))
          .agg(count(lit(1)).as("n"),
            round(sum("x") / count(lit(1)), 4).as("cx"),
            round(sum("y") / count(lit(1)), 4).as("cy"))
          .orderBy("cluster")
      }),

    // ---- logistic regression, 3 full-batch gradient steps unrolled
    // (lr=1, fast-sigmoid link, fixed-point gradient sums — scaladoc).
    // Emits the init and final quantized SSE so descent is visible in
    // the oracled row itself. On this synthetic table the label is
    // nearly independent of price, so ŵ→~0 and b̂→(mean(y)−0.5)·ish —
    // the capability under test is the deterministic distributed train
    // loop, not the synthetic signal. ----
    Q(
      "ml_logreg_gd", {
        val pts = """
          SELECT CAST(round(o_totalprice * 100) AS BIGINT) / 5.0E7 AS x,
                 CASE WHEN o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END AS yl
          FROM orders"""
        Some(s"""
          WITH pts AS ($pts),
          w0 AS (SELECT 0.0 AS w, 0.0 AS b),
          w1 AS (${logregStepSql("pts", "w0")}),
          w2 AS (${logregStepSql("pts", "w1")}),
          w3 AS (${logregStepSql("pts", "w2")})
          SELECT CAST(w1.n AS BIGINT) AS n,
                 round(w3.w, 6) AS w, round(w3.b, 6) AS b,
                 round(w1.sse, 4) AS sse_init, round(w3.sse, 4) AS sse_last
          FROM w1 CROSS JOIN w3""")
      },
      (s, dir) => {
        val pts = t(s, dir, "orders").selectExpr(
          "CAST(round(o_totalprice * 100) AS BIGINT) / 5.0E7 AS x",
          "CASE WHEN o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END AS yl")
        val w0 = s.range(1).select(lit(0.0).as("w"), lit(0.0).as("b"))
        val w1 = logregStep(pts, w0)
        val w2 = logregStep(pts, w1.select("w", "b"))
        val w3 = logregStep(pts, w2.select("w", "b"))
        w1.select(col("n"), col("sse").as("sse_init"))
          .crossJoin(broadcast(
            w3.select(col("w"), col("b"), col("sse").as("sse_last"))))
          .selectExpr("CAST(n AS BIGINT) AS n", "round(w, 6) AS w",
            "round(b, 6) AS b", "round(sse_init, 4) AS sse_init",
            "round(sse_last, 4) AS sse_last")
      }),

    // ---- 2-feature OLS via normal equations: nine exact integer sums
    // in ONE aggregation pass (DECIMAL(38,0) accumulation ≙ DuckDB
    // HUGEINT — Σy² overflows BIGINT), then Cramer's rule + r² in
    // doubles via expression text SHARED with the oracle. The 100 TB
    // story is the whole point: training a linear model is one map-side-
    // combined scan producing a single 9-number row, not a toPandas. ----
    Q(
      "ml_linreg_two_features",
      Some(olsFitSql),
      (s, dir) => olsFitRow(s, dir)),

    // ---- feature standardization (z-score + min-max): the stats pass
    // reduces to ONE broadcastable row (exact integer Σ, Σ², min, max),
    // then one row-local projection pass — the standard large-scale
    // feature-engineering shape (never a per-feature window over the
    // whole table, which would sort/shuffle 100 TB). ----
    Q(
      "ml_standardize_features",
      Some("""
        WITH f AS (
          SELECT o_orderkey,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS y
          FROM orders),
        st AS (
          SELECT CAST(count(*) AS DOUBLE) AS n,
                 CAST(CAST(sum(y) AS HUGEINT) AS DOUBLE) AS sy,
                 CAST(sum(CAST(y AS HUGEINT)*y) AS DOUBLE) AS syy,
                 CAST(min(y) AS DOUBLE) AS ymin,
                 CAST(max(y) AS DOUBLE) AS ymax
          FROM f)
        SELECT o_orderkey,
               round((y - sy/n) / sqrt((n*syy - sy*sy) / (n*(n-1.0))), 6)
                 AS z_price,
               round((y - ymin) / (ymax - ymin), 6) AS mm_price
        FROM f CROSS JOIN st ORDER BY o_orderkey"""),
      (s, dir) => {
        val f = t(s, dir, "orders").selectExpr("o_orderkey",
          "CAST(round(o_totalprice * 100) AS BIGINT) AS y")
        val st = f.agg(
          expr("CAST(count(*) AS DOUBLE)").as("n"),
          expr("CAST(sum(CAST(y AS DECIMAL(38,0))) AS DOUBLE)").as("sy"),
          expr("CAST(sum(CAST(y AS DECIMAL(38,0)) * y) AS DOUBLE)").as("syy"),
          expr("CAST(min(y) AS DOUBLE)").as("ymin"),
          expr("CAST(max(y) AS DOUBLE)").as("ymax"))
        f.crossJoin(broadcast(st))
          .selectExpr("o_orderkey",
            "round((y - sy/n) / sqrt((n*syy - sy*sy) / (n*(n-1.0))), 6)" +
              " AS z_price",
            "round((y - ymin) / (ymax - ymin), 6) AS mm_price")
          .orderBy("o_orderkey")
      }),

    // ---- depth-2 histogram decision tree TRAIN: the output row set IS
    // the learned model — each leaf with the full split path that
    // defines it plus its (n, mean-cents prediction) — so the green
    // hash row proves both engines learned the identical tree, not just
    // similar aggregates. Scale shape (see cellStats): one scan of the
    // data to collected cell statistics; both levels and the split
    // selection run on the driver over those cells, never the data. ----
    Q(
      "ml_tree_hist_depth2",
      Some(s"""
        WITH $treeOracleCtes
        SELECT CAST(leaf AS BIGINT) AS leaf,
               CAST(root_feat AS BIGINT) AS root_feat,
               CAST(root_thr AS BIGINT) AS root_thr,
               CAST(split_feat AS BIGINT) AS split_feat,
               CAST(split_thr AS BIGINT) AS split_thr,
               n,
               round(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE), 4) AS pred
        FROM leaves CROSS JOIN best0
        ORDER BY leaf"""),
      (s, dir) => {
        val rows = treeFit(cellStats(treeFeatures(s, dir))).toSeq.flatMap(t =>
          t.leaves.toSeq.sortBy(_._1).map { case (leaf, (n, sy)) =>
            val k = t.kids(leaf / 2)
            Seq(leaf, t.root.feat, t.root.thr, k.feat, k.thr, n, sy)
          })
        localFrame(s, "leaf BIGINT NOT NULL, root_feat BIGINT NOT NULL, " +
            "root_thr BIGINT, split_feat BIGINT NOT NULL, split_thr BIGINT, " +
            "n BIGINT, sy BIGINT", rows)
          .selectExpr("leaf", "root_feat", "root_thr",
            "split_feat", "split_thr", "n",
            "round(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE), 4) AS pred")
      }),

    // ---- tree EVAL: apply the learned tree and compute r² engine-side
    // (the reference's metric, realestate_pipeline.py:234) on the same
    // cell frame the tree trains on. Leaf predictions are floored to integer cents (sy DIV n) so
    // the residuals — and therefore the SSE — are exact integers under
    // DECIMAL(38,0)/HUGEINT accumulation: associative, order-free,
    // bit-identical across engines; only the final r² division runs in
    // doubles, via shared text. ----
    Q(
      "ml_tree_r2",
      Some(treeR2Sql),
      treeR2Row),

    // ---- bagged forest: the reference's LITERAL model family
    // (RandomForestRegressor, realestate_pipeline.py:224-233) as three
    // depth-2 histogram trees on disjoint deterministic bags
    // (k % 3 — reproducible bootstrap stand-in), averaged by integer
    // division. ONE scan builds per-(bag, cell) statistics; the driver
    // trains each bag's tree on its cells and scores the bag-summed
    // cells — a forest never scans once per tree. Output pins the three
    // root splits (structure diversity across bags) and the ensemble r²; every
    // number integer-exact or shared-text, so the row hash proves both
    // engines learned the identical forest. ----
    Q(
      "ml_forest_bagged",
      Some(s"""
        WITH f AS ($treeFeaturesSql),
        f0 AS (SELECT * FROM f WHERE k % 3 = 0),
        f1 AS (SELECT * FROM f WHERE k % 3 = 1),
        f2 AS (SELECT * FROM f WHERE k % 3 = 2),
        ${treeTrainCtes("f0", "t0")},
        ${treeTrainCtes("f1", "t1")},
        ${treeTrainCtes("f2", "t2")},
        ${treeScoreSql("t0", "p0")},
        ${treeScoreSql("t1", "p1")},
        ${treeScoreSql("t2", "p2")},
        ens AS (
          SELECT a.y, a.y - (a.p0 + b.p1 + c.p2) // 3 AS e
          FROM t0px a JOIN t1px b ON a.k = b.k JOIN t2px c ON a.k = c.k),
        ev AS (
          SELECT count(*) AS n,
                 sum(CAST(e * e AS HUGEINT)) AS sse,
                 sum(CAST(y AS HUGEINT)) AS sy,
                 sum(CAST(y AS HUGEINT) * y) AS syy
          FROM ens)
        SELECT CAST(n AS BIGINT) AS n,
               CAST(t0best0.root_feat AS BIGINT) AS rf0,
               CAST(t0best0.root_thr AS BIGINT) AS rt0,
               CAST(t1best0.root_feat AS BIGINT) AS rf1,
               CAST(t1best0.root_thr AS BIGINT) AS rt1,
               CAST(t2best0.root_feat AS BIGINT) AS rf2,
               CAST(t2best0.root_thr AS BIGINT) AS rt2,
               $treeR2Text
        FROM ev CROSS JOIN t0best0 CROSS JOIN t1best0 CROSS JOIN t2best0"""),
      forestRow),

    // ---- 3-fold cross-validation of a linear model from ONE scan: the
    // model-selection loop every real pipeline runs, in the shape it
    // must take at 100 TB. One aggregation pass collects per-fold exact
    // sufficient statistics (n, Σx, Σy, Σx², Σxy, Σy²); each held-out
    // fold's TRAIN model comes from complement sums (total − fold, via
    // a window over the 3-row stats frame — metadata, not data), and
    // its HOLDOUT SSE expands algebraically from the fold's own sums:
    //   SSE = Σy² − 2aΣy − 2bΣxy + 2abΣx + a²n + b²Σx²
    // so k-fold CV costs one scan + O(k) arithmetic — never k re-reads
    // and never a per-row prediction pass. Doubles go through
    // expression text shared with the oracle (the Cramer discipline);
    // everything upstream is DECIMAL(38,0)/HUGEINT-exact. ----
    Q(
      "ml_cv_3fold_linreg",
      Some(s"""
          WITH f AS (
            SELECT o_custkey % 3 AS fold,
                   CAST(o_orderkey % 500 AS BIGINT) AS x,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS y
            FROM orders),
          fs AS (
            SELECT fold, CAST(count(*) AS HUGEINT) AS n,
                   sum(CAST(x AS HUGEINT)) AS sx,
                   sum(CAST(y AS HUGEINT)) AS sy,
                   sum(CAST(x AS HUGEINT) * x) AS sxx,
                   sum(CAST(x AS HUGEINT) * y) AS sxy,
                   sum(CAST(y AS HUGEINT) * y) AS syy
            FROM f GROUP BY 1),
          compl AS (
            SELECT *, sum(n) OVER () - n AS tn,
                   sum(sx) OVER () - sx AS tsx,
                   sum(sy) OVER () - sy AS tsy,
                   sum(sxx) OVER () - sxx AS tsxx,
                   sum(sxy) OVER () - sxy AS tsxy
            FROM fs),
          m AS (SELECT *, $cvSlope AS slope FROM compl),
          m2 AS (SELECT *, $cvIcept AS icept FROM m),
          m3 AS (SELECT *, $cvSse AS sse FROM m2)
          SELECT CAST(fold AS BIGINT) AS fold, CAST(tn AS BIGINT) AS n_train,
                 round(slope, 6) AS slope, round(icept, 6) AS icept,
                 round($cvR2, 6) AS r2_holdout
          FROM m3 ORDER BY fold"""),
      (s, dir) => {
        val f = t(s, dir, "orders").selectExpr(
          "o_custkey % 3 AS fold",
          "CAST(o_orderkey % 500 AS BIGINT) AS x",
          "CAST(round(o_totalprice * 100) AS BIGINT) AS y")
        val fs = f.groupBy("fold").agg(
          expr("CAST(count(*) AS DECIMAL(38,0))").as("n"),
          expr("sum(CAST(x AS DECIMAL(38,0)))").as("sx"),
          expr("sum(CAST(y AS DECIMAL(38,0)))").as("sy"),
          expr("sum(CAST(x AS DECIMAL(38,0)) * x)").as("sxx"),
          expr("sum(CAST(x AS DECIMAL(38,0)) * y)").as("sxy"),
          expr("sum(CAST(y AS DECIMAL(38,0)) * y)").as("syy"))
        // complement (train-side) sums via a window over the 3-row
        // stats frame — the single-partition window is over metadata
        // (fold = key % 3); pmod(hash(fold), 1) = constant single
        // partition without the warning, non-foldable so it survives
        val all3 = Window.partitionBy(pmod(hash(col("fold")), lit(1)))
          .rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)
        val compl = Seq("n" -> "tn", "sx" -> "tsx", "sy" -> "tsy",
          "sxx" -> "tsxx", "sxy" -> "tsxy")
          .foldLeft(fs) { case (acc, (c, t)) =>
            acc.withColumn(t, sum(col(c)).over(all3) - col(c))
          }
        compl
          .withColumn("slope", expr(cvSlope))
          .withColumn("icept", expr(cvIcept))
          .withColumn("sse", expr(cvSse))
          .selectExpr("CAST(fold AS BIGINT) AS fold",
            "CAST(tn AS BIGINT) AS n_train",
            "round(slope, 6) AS slope", "round(icept, 6) AS icept",
            s"round($cvR2, 6) AS r2_holdout")
          .orderBy("fold")
      }),

    // ---- gradient-boosted stumps: the OTHER half of the tree-ensemble
    // family (bagging above, boosting here). Squared loss → each round
    // fits a depth-1 stump to the previous round's residuals; integer-
    // cents leaf values keep every residual an exact integer, so the
    // whole 3-round chain is deterministic and the final residual frame
    // IS the model's training error (SSE = Σ residual²). Cost: ONE
    // scan to per-cell statistics; each round's histogram and residual
    // update run on the driver over those cells — boosting at 100 TB
    // is one scan, never k scans or k shuffles of the data. Output
    // pins all three stumps (feat,
    // thr, side values) + train r² in one hashed row. ----
    Q(
      "ml_gbt_stumps",
      Some(s"""
        WITH f AS (SELECT *, y AS y0 FROM ($treeFeaturesSql)),
        ${stumpCtes("f", "g0")},
        ${stumpCtes("g0r", "g1")},
        ${stumpCtes("g1r", "g2")},
        ev AS (
          SELECT count(*) AS n,
                 sum(CAST(y AS HUGEINT) * y) AS sse,
                 sum(CAST(y0 AS HUGEINT)) AS sy,
                 sum(CAST(y0 AS HUGEINT) * y0) AS syy
          FROM g2r)
        SELECT CAST(n AS BIGINT) AS n,
               CAST(g0m.sfeat AS BIGINT) AS sf0, CAST(g0m.sthr AS BIGINT) AS st0,
               CAST(g0m.pl AS BIGINT) AS pl0, CAST(g0m.pr AS BIGINT) AS pr0,
               CAST(g1m.sfeat AS BIGINT) AS sf1, CAST(g1m.sthr AS BIGINT) AS st1,
               CAST(g1m.pl AS BIGINT) AS pl1, CAST(g1m.pr AS BIGINT) AS pr1,
               CAST(g2m.sfeat AS BIGINT) AS sf2, CAST(g2m.sthr AS BIGINT) AS st2,
               CAST(g2m.pl AS BIGINT) AS pl2, CAST(g2m.pr AS BIGINT) AS pr2,
               $treeR2Text
        FROM ev CROSS JOIN g0m CROSS JOIN g1m CROSS JOIN g2m"""),
      gbtRow),

    // ---- exact AUC (Mann-Whitney rank-sum) of price-as-a-classifier
    // for high order priority — the reference evaluates models
    // driver-side (airflow/dags/realestate_pipeline.py:224-234); here
    // the ranking metric itself is distributed. Shape: one hash
    // aggregation on the exact integer score (cents — cardinality
    // bounded by the price domain, not rows), a TeraSort two-pass
    // prefix sum over the score groups (no single-partition window),
    // and a final 1-row reduce. 2·U accumulates in DECIMAL(38,0) ≙
    // DuckDB HUGEINT (≈n_pos·n_neg — quadratic in rows, far past
    // BIGINT at scale); AUC is one shared-text double divide. ----
    Q(
      "ml_auc_rank",
      Some(s"""
        WITH scored AS ($aucScoredSql),
        g AS (
          SELECT sc, sum(pos) AS p, count(*) - sum(pos) AS ng
          FROM scored GROUP BY sc),
        w AS (
          SELECT p, ng,
                 coalesce(sum(ng) OVER (ORDER BY sc
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS cnb
          FROM g),
        u AS (
          SELECT CAST(sum(p) AS BIGINT) AS n_pos,
                 CAST(sum(ng) AS BIGINT) AS n_neg,
                 CAST(sum(CAST(p AS HUGEINT) * (2 * cnb + ng))
                   AS DECIMAL(38,0)) AS u2
          FROM w)
        SELECT n_pos, n_neg, CAST(u2 AS VARCHAR) AS u2, $aucText FROM u"""),
      (s, dir) => {
        val g = aucScored(s, dir).groupBy("sc")
          .agg(sum("pos").as("p"),
            (count(lit(1)) - sum("pos")).as("ng"))
        val w = exclusivePrefixSum(g, "sc", "ng", "cnb")
        w.agg(
          sum("p").cast("long").as("n_pos"),
          sum("ng").cast("long").as("n_neg"),
          // 2U ≈ n_pos·n_neg is far past BIGINT at 100 TB scale, and the
          // overflow behavior diverges across engines (DuckDB errors,
          // non-ANSI Spark wraps) — so ACCUMULATE in DECIMAL(38,0) on
          // both sides, then emit as a canonical string: decimal hash
          // canonicalization differs across engines, digits don't
          sum(expr("CAST(p AS DECIMAL(38,0)) * (2 * cnb + ng)"))
            .cast("decimal(38,0)").as("u2"))
          .selectExpr("n_pos", "n_neg", "CAST(u2 AS STRING) AS u2", aucText)
      }),

    // ---- confusion matrix + precision/recall/F1 at a fixed score
    // threshold: ONE scan, one map-side-combined aggregation to a
    // single row of four exact integer cells; the derived ratios are
    // shared-text double arithmetic over those integers. The 100 TB
    // story is the contrast with the AUC query: threshold metrics need
    // no ordering at all — they stay embarrassingly parallel. ----
    Q(
      "ml_confusion_threshold",
      Some(s"""
        WITH scored AS ($aucScoredSql),
        m AS (
          SELECT CAST(sum(CASE WHEN sc >= 15000000 AND pos = 1
                          THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                 CAST(sum(CASE WHEN sc >= 15000000 AND pos = 0
                          THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                 CAST(sum(CASE WHEN sc < 15000000 AND pos = 1
                          THEN 1 ELSE 0 END) AS BIGINT) AS fn,
                 CAST(sum(CASE WHEN sc < 15000000 AND pos = 0
                          THEN 1 ELSE 0 END) AS BIGINT) AS tn
          FROM scored)
        SELECT tp, fp, fn, tn,
               round(CAST(tp AS DOUBLE) / (CAST(tp AS DOUBLE) +
                 CAST(fp AS DOUBLE)), 6) AS precision_,
               round(CAST(tp AS DOUBLE) / (CAST(tp AS DOUBLE) +
                 CAST(fn AS DOUBLE)), 6) AS recall_,
               round(2.0 * CAST(tp AS DOUBLE) / (2.0 * CAST(tp AS DOUBLE) +
                 CAST(fp AS DOUBLE) + CAST(fn AS DOUBLE)), 6) AS f1
        FROM m"""),
      (s, dir) => {
        aucScored(s, dir).agg(
          sum(expr("CASE WHEN sc >= 15000000 AND pos = 1 THEN 1 ELSE 0 END"))
            .cast("long").as("tp"),
          sum(expr("CASE WHEN sc >= 15000000 AND pos = 0 THEN 1 ELSE 0 END"))
            .cast("long").as("fp"),
          sum(expr("CASE WHEN sc < 15000000 AND pos = 1 THEN 1 ELSE 0 END"))
            .cast("long").as("fn"),
          sum(expr("CASE WHEN sc < 15000000 AND pos = 0 THEN 1 ELSE 0 END"))
            .cast("long").as("tn"))
          .selectExpr("tp", "fp", "fn", "tn",
            "round(CAST(tp AS DOUBLE) / (CAST(tp AS DOUBLE) + " +
              "CAST(fp AS DOUBLE)), 6) AS precision_",
            "round(CAST(tp AS DOUBLE) / (CAST(tp AS DOUBLE) + " +
              "CAST(fn AS DOUBLE)), 6) AS recall_",
            "round(2.0 * CAST(tp AS DOUBLE) / (2.0 * CAST(tp AS DOUBLE) + " +
              "CAST(fp AS DOUBLE) + CAST(fn AS DOUBLE)), 6) AS f1")
      }),

    // ---- A/B experiment analysis over the raw event log: assignment
    // is a seeded md5 of the user id (deterministic, balanced,
    // content-blind — exactly how a production bucketing service
    // derives variants), the metric is per-user HIGH-VALUE purchase
    // conversion (value > 150 — plain any-purchase saturates near 1 on
    // this log and degenerates the pooled variance to 0), and the
    // readout is the two-proportion pooled z statistic. Shape:
    // one scan → per-user aggregation (hash shuffle on user_id) → a
    // 2-row reduce; the z arithmetic is shared-text double math whose
    // only transcendental is sqrt — correctly rounded by IEEE 754, so
    // bit-identical in any engine. ----
    Q(
      "ml_ab_test_ztest", {
        val z = "round((ra - rb) / sqrt(p * (1.0 - p) * " +
          "(1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))), 6)"
        Some(s"""
          WITH u AS (
            SELECT user_id,
                   CASE WHEN substr(md5(user_id::VARCHAR || ':ab'), 1, 1)
                          < '8' THEN 'A' ELSE 'B' END AS variant,
                   max(CASE WHEN event_type = 'purchase'
                        AND value > 150 THEN 1 ELSE 0 END) AS conv
            FROM events GROUP BY user_id,
                 CASE WHEN substr(md5(user_id::VARCHAR || ':ab'), 1, 1)
                        < '8' THEN 'A' ELSE 'B' END),
          v AS (
            SELECT variant, count(*) AS n, sum(conv) AS c
            FROM u GROUP BY variant),
          w AS (
            SELECT CAST(a.n AS BIGINT) AS n_a, CAST(a.c AS BIGINT) AS c_a,
                   CAST(b.n AS BIGINT) AS n_b, CAST(b.c AS BIGINT) AS c_b
            FROM v a CROSS JOIN v b
            WHERE a.variant = 'A' AND b.variant = 'B'),
          m AS (
            SELECT n_a, c_a, n_b, c_b,
                   CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS ra,
                   CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS rb,
                   CAST(c_a + c_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)
                     AS p
            FROM w)
          SELECT n_a, c_a, n_b, c_b, round(ra, 6) AS rate_a,
                 round(rb, 6) AS rate_b, $z AS z
          FROM m""")
      },
      (s, dir) => {
        val z = "round((ra - rb) / sqrt(p * (1.0 - p) * " +
          "(1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))), 6)"
        val u = t(s, dir, "events")
          .withColumn("variant", expr(
            "CASE WHEN substr(md5(CAST(user_id AS STRING) || ':ab'), 1, 1)" +
              " < '8' THEN 'A' ELSE 'B' END"))
          .groupBy("user_id", "variant")
          .agg(max(expr("CASE WHEN event_type = 'purchase' " +
            "AND value > 150 THEN 1 ELSE 0 END")).as("conv"))
        val v = u.groupBy("variant")
          .agg(count(lit(1)).as("n"), sum("conv").as("c"))
        val a = v.filter(col("variant") === "A")
          .select(col("n").cast("long").as("n_a"),
            col("c").cast("long").as("c_a"))
        val b = v.filter(col("variant") === "B")
          .select(col("n").cast("long").as("n_b"),
            col("c").cast("long").as("c_b"))
        a.crossJoin(broadcast(b))
          .selectExpr("n_a", "c_a", "n_b", "c_b",
            "CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS ra",
            "CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS rb",
            "CAST(c_a + c_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) AS p")
          .selectExpr("n_a", "c_a", "n_b", "c_b",
            "round(ra, 6) AS rate_a", "round(rb, 6) AS rate_b",
            s"$z AS z")
      }),

    // ---- calibration / reliability bins for the price-as-classifier
    // score: 10 fixed-width score bins (width from the broadcast 1-row
    // max — integer arithmetic, no ntile and no global ranking), each
    // with its exact count, positive count, and observed rate. One
    // scan + one 1-row agg + a 10-group combine. ----
    Q(
      "ml_calibration_bins",
      Some(s"""
        WITH scored AS ($aucScoredSql),
        mx AS (SELECT max(sc) AS m FROM scored),
        binned AS (
          SELECT CASE WHEN sc * 10 // (m + 1) > 9 THEN 9
                      ELSE sc * 10 // (m + 1) END AS bin, pos
          FROM scored CROSS JOIN mx)
        SELECT CAST(bin AS BIGINT) AS bin,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(pos) AS BIGINT) AS n_pos,
               round(CAST(sum(pos) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
                 AS rate
        FROM binned GROUP BY bin ORDER BY bin"""),
      (s, dir) => {
        val mx = aucScored(s, dir).agg(max("sc").as("m"))
        aucScored(s, dir).crossJoin(broadcast(mx))
          .selectExpr(
            "CASE WHEN sc * 10 DIV (m + 1) > 9 THEN 9 " +
              "ELSE sc * 10 DIV (m + 1) END AS bin", "pos")
          .groupBy("bin")
          .agg(count(lit(1)).cast("long").as("n"),
            sum("pos").cast("long").as("n_pos"))
          .selectExpr("CAST(bin AS BIGINT) AS bin", "n", "n_pos",
            "round(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 6) AS rate")
          .orderBy("bin")
      }),

    // ---- the composed train→holdout-eval pipeline, entirely
    // engine-side: a seeded md5 hash splits rows ~81/19 (the same
    // deterministic-split discipline as gold_train_test_split), a
    // depth-1 histogram stump fits on the TRAIN side only, and the
    // holdout r² comes from exact integer sufficient statistics of the
    // TEST side — the model never sees it. ONE scan to per-cell
    // statistics keyed by the split flag; the fit reads the train
    // cells, the eval the test cells; only those cells are collected.
    // This is the capability the reference's sklearn
    // train_test_split+fit+score cell exercises
    // (airflow/dags/realestate_pipeline.py:224-234), as one distributed
    // aggregation. ----
    Q(
      "pipeline_model_eval",
      Some(s"""
        WITH f0 AS ($treeFeaturesSql),
        f AS (SELECT *, y AS y0 FROM f0
              WHERE substr(md5(k::VARCHAR || ':spl'), 1, 1) < 'd'),
        ${stumpCtes("f", "g")},
        tst AS (SELECT * FROM f0
                WHERE substr(md5(k::VARCHAR || ':spl'), 1, 1) >= 'd'),
        sc AS (
          SELECT y, CASE WHEN (sfeat = 1 AND b1 <= sthr)
                          OR (sfeat = 2 AND b2 <= sthr)
                    THEN pl ELSE pr END AS p
          FROM tst CROSS JOIN gm),
        ev AS (
          SELECT count(*) AS n,
                 sum(CAST(y - p AS HUGEINT) * (y - p)) AS sse,
                 sum(CAST(y AS HUGEINT)) AS sy,
                 sum(CAST(y AS HUGEINT) * y) AS syy
          FROM sc),
        tr AS (SELECT count(*) AS n_train FROM f)
        SELECT CAST(tr.n_train AS BIGINT) AS n_train,
               CAST(ev.n AS BIGINT) AS n_test,
               CAST(gm.sfeat AS BIGINT) AS sfeat,
               CAST(gm.sthr AS BIGINT) AS sthr,
               CAST(gm.pl AS BIGINT) AS pl, CAST(gm.pr AS BIGINT) AS pr,
               $treeR2Text
        FROM ev CROSS JOIN gm CROSS JOIN tr"""),
      modelEvalRow),

    // ---- chi-squared test of independence between two categorical
    // columns (order priority × status): the feature-association screen
    // a pipeline runs before spending on a model. Shape: ONE scan to
    // the r×c contingency cells (map-side combinable), marginals as
    // broadcast aggregates OF THE CELLS (never a second scan), and the
    // statistic as a 15-cell reduce. Determinism: per-cell (obs−exp)²/exp
    // is IEEE-exact double math from exact integer counts, QUANTIZED to
    // nano units and summed as integers (associative — the same
    // fixed-point discipline as the logistic gradients). ----
    Q(
      "ml_chi2_feature_assoc", {
        val cellT = "CAST(floor(1.0E9 * " +
          "(CAST(obs AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) " +
          "/ CAST(n AS DOUBLE)) * " +
          "(CAST(obs AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) " +
          "/ CAST(n AS DOUBLE)) / " +
          "(CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))) " +
          "AS BIGINT)"
        Some(s"""
          WITH cells AS (
            SELECT o_orderpriority AS r, o_orderstatus AS c,
                   count(*) AS obs
            FROM orders GROUP BY 1, 2),
          rm AS (SELECT r, sum(obs) AS rt FROM cells GROUP BY r),
          cm AS (SELECT c, sum(obs) AS ct FROM cells GROUP BY c),
          tot AS (SELECT sum(obs) AS n FROM cells),
          q AS (
            SELECT $cellT AS contrib
            FROM cells JOIN rm USING (r) JOIN cm USING (c) CROSS JOIN tot),
          dims AS (
            SELECT (SELECT count(*) FROM rm) AS nr,
                   (SELECT count(*) FROM cm) AS nc)
          SELECT CAST(tot.n AS BIGINT) AS n,
                 CAST((dims.nr - 1) * (dims.nc - 1) AS BIGINT) AS df,
                 CAST(sum(q.contrib) AS BIGINT) AS chi2_nano,
                 round(CAST(sum(q.contrib) AS DOUBLE) / 1.0E9, 4) AS chi2
          FROM q CROSS JOIN tot CROSS JOIN dims
          GROUP BY tot.n, dims.nr, dims.nc""")
      },
      (s, dir) => {
        val cellT = "CAST(floor(1.0E9 * " +
          "(CAST(obs AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) " +
          "/ CAST(n AS DOUBLE)) * " +
          "(CAST(obs AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) " +
          "/ CAST(n AS DOUBLE)) / " +
          "(CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))) " +
          "AS BIGINT)"
        val cells = t(s, dir, "orders")
          .groupBy(col("o_orderpriority").as("r"),
            col("o_orderstatus").as("c"))
          .agg(count(lit(1)).as("obs"))
          .persist()
        val rm = cells.groupBy("r").agg(sum("obs").as("rt"))
        val cm = cells.groupBy("c").agg(sum("obs").as("ct"))
        val tot = cells.agg(sum("obs").as("n"),
          count_distinct(col("r")).as("nr"),
          count_distinct(col("c")).as("nc"))
        cells
          .join(broadcast(rm), "r")
          .join(broadcast(cm), "c")
          .crossJoin(broadcast(tot))
          .selectExpr(s"$cellT AS contrib", "n", "nr", "nc")
          .groupBy("n", "nr", "nc")
          .agg(sum("contrib").as("chi2_nano"))
          .selectExpr("CAST(n AS BIGINT) AS n",
            "CAST((nr - 1) * (nc - 1) AS BIGINT) AS df",
            "CAST(chi2_nano AS BIGINT) AS chi2_nano",
            "round(CAST(chi2_nano AS DOUBLE) / 1.0E9, 4) AS chi2")
      }),

    // ---- top principal component of the embedding table via TWO
    // power-iteration steps in EXACT integer arithmetic — engine-side
    // PCA with zero float-summation nondeterminism. Embeddings are
    // quantized to a 2^-20 grid (float→double is exact, ×2^20 is a
    // power-of-two double scale, floor is floor — bit-identical in any
    // engine); the n-scaled centered covariance n·Σqq − Σq·Σq is then
    // pure integer algebra, and v₂ = C·(C·1 ÷ 2^40) stays inside
    // DECIMAL(38,0) ≙ HUGEINT for n up to ~10⁵ rows at |e| < 1 (the
    // divisor is the documented headroom knob — scale it with log₂ n).
    // Scale shape: the covariance is ONE double-posexplode scan of the
    // embedding column (64×64 per-row outer product, NO join and NO
    // shuffle of data — map-side combine reduces each partition to
    // ≤ d² = 4096 cells before the exchange); both power steps run on
    // the 4096-row C frame (metadata, not data). Output: the 64
    // direction components on a fixed 2^-56 grid, sign-stable via
    // sign/abs integer division (identical truncation in both
    // engines). ----
    Q(
      "ml_pca_power_iter",
      Some("""
        WITH q AS (
          SELECT vec_id,
                 list_transform(embedding, x ->
                   CAST(floor(CAST(x AS DOUBLE) * 1048576) AS BIGINT)) AS qa
          FROM embeddings),
        e1 AS (SELECT vec_id, qa, unnest(qa) AS qi,
                      generate_subscripts(qa, 1) AS i FROM q),
        e2 AS (SELECT i, qi, unnest(qa) AS qj,
                      generate_subscripts(qa, 1) AS j FROM e1),
        spp AS (SELECT i, j, sum(qi * qj) AS p FROM e2 GROUP BY 1, 2),
        s AS (SELECT i, sum(qi) AS sv FROM e1 GROUP BY i),
        cnt AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM embeddings),
        c AS (
          SELECT spp.i, spp.j, cnt.n * spp.p - si.sv * sj.sv AS cij
          FROM spp CROSS JOIN cnt
          JOIN s si ON si.i = spp.i
          JOIN s sj ON sj.i = spp.j),
        v1 AS (SELECT i, sum(cij) AS v FROM c GROUP BY i),
        vs AS (SELECT i, CASE WHEN v < 0
                 THEN -(abs(v) // 1099511627776)
                 ELSE abs(v) // 1099511627776 END AS w FROM v1),
        v2 AS (SELECT c.j, sum(c.cij * vs.w) AS v
               FROM c JOIN vs ON vs.i = c.i GROUP BY c.j)
        SELECT CAST(j - 1 AS BIGINT) AS j,
               CAST(CASE WHEN v < 0
                 THEN -(abs(v) // 72057594037927936)
                 ELSE abs(v) // 72057594037927936 END AS BIGINT) AS pc
        FROM v2 ORDER BY j"""),
      (s, dir) => {
        // ONE scan (round-17 optimization): the gram_sums
        // TypedImperativeAggregate accumulates n, Σq_i and all Σq_i·q_j
        // exactly (128-bit integer state) in a single pass — replacing
        // the double-posexplode (d² generated rows per input row through
        // a DECIMAL hash aggregate: 20M rows at sf0.1) plus the separate
        // Σq_i pass and count(*) pass over the persisted array frame.
        // The shuffle carries one ~d²-long state per partition instead
        // of d² rows per input row; every downstream integer is
        // bit-identical (same quantization, same wrapping products,
        // exact integer accumulation in a different order).
        val g = t(s, dir, "embeddings")
          .agg(call_function("gram_sums",
            col("embedding").cast("array<double>")).as("g"))
        // the d²-cell covariance from the ONE-row sums frame: explode
        // pp, derive (i, j) from the row-major index, and read Σq from
        // the in-row sv array — no joins, no broadcasts
        val c = g.select(col("g.n").as("n"), col("g.d").as("d"),
            col("g.sv").as("sv"), posexplode(col("g.pp")).as(Seq("k", "p")))
          .selectExpr("CAST(k DIV d AS INT) AS i", "CAST(k % d AS INT) AS j",
            "CAST(n * p" +
              " - element_at(sv, CAST(k DIV d AS INT) + 1)" +
              " * element_at(sv, CAST(k % d AS INT) + 1)" +
              " AS DECIMAL(38,0)) AS cij")
          .persist()
        val v1 = c.groupBy("i").agg(sum("cij").as("v"))
        val vs = v1.selectExpr("i",
          "CASE WHEN v < 0 THEN -(abs(v) DIV 1099511627776) " +
            "ELSE abs(v) DIV 1099511627776 END AS w")
        val v2 = c.join(broadcast(vs), "i")
          .groupBy("j")
          .agg(sum(expr("cij * CAST(w AS DECIMAL(38,0))")).as("v"))
        v2.selectExpr("CAST(j AS BIGINT) AS j",
          "CAST(CASE WHEN v < 0 THEN -(abs(v) DIV 72057594037927936) " +
            "ELSE abs(v) DIV 72057594037927936 END AS BIGINT) AS pc")
          .orderBy("j")
      }),

    // ---- experiment-tracking ledger (the reference's MLflow step,
    // realestate_pipeline.py:197,232-235): train two models with the
    // factored Learn builders, LOG each (run identity, string params,
    // one-row metrics) through RunStore's append-only parquet tables,
    // then read the ledger back as the query result. The oracle re-runs
    // both trainings in DuckDB and constructs the expected ledger rows
    // directly — so the green hash proves the sink round-trips exactly
    // what the engine computed, param counts included. Runs/metrics are
    // model-sized; the sink cost is independent of the corpus. ----
    Q(
      "ml_runs_log",
      Some(s"""
        WITH ols AS ($olsFitSql),
        tree AS ($treeR2Sql),
        m AS (
          SELECT 'r1_ols_cents' AS run_id,
                 'ols_normal_equations' AS algo,
                 CAST(2 AS BIGINT) AS n_params,
                 'n' AS metric, CAST(n AS DOUBLE) AS value FROM ols
          UNION ALL SELECT 'r1_ols_cents', 'ols_normal_equations',
                 CAST(2 AS BIGINT), 'b0', b0 FROM ols
          UNION ALL SELECT 'r1_ols_cents', 'ols_normal_equations',
                 CAST(2 AS BIGINT), 'b1', b1 FROM ols
          UNION ALL SELECT 'r1_ols_cents', 'ols_normal_equations',
                 CAST(2 AS BIGINT), 'b2', b2 FROM ols
          UNION ALL SELECT 'r1_ols_cents', 'ols_normal_equations',
                 CAST(2 AS BIGINT), 'r2', r2 FROM ols
          UNION ALL SELECT 'r2_tree_depth2', 'hist_tree_depth2',
                 CAST(2 AS BIGINT), 'n', CAST(n AS DOUBLE) FROM tree
          UNION ALL SELECT 'r2_tree_depth2', 'hist_tree_depth2',
                 CAST(2 AS BIGINT), 'r2', r2 FROM tree)
        SELECT run_id, algo, n_params, metric, round(value, 6) AS value
        FROM m ORDER BY run_id, metric"""),
      (s, dir) => {
        val root = RunStore.defaultRoot(dir)
        RunStore.reset(s, root)
        // one commit per ledger table for both runs (3 write jobs, not
        // 6) — content identical to two sequential log() calls
        RunStore.logAll(s, root, Seq(
          ("r1_ols_cents", "ols_normal_equations",
            Seq("features" -> "x1,x2", "target" -> "price_cents"),
            olsFitRow(s, dir)),
          ("r2_tree_depth2", "hist_tree_depth2",
            Seq("depth" -> "2", "bins" -> TreeBins.toString),
            treeR2Row(s, dir))))
        // the ledger is model-sized: sort it in one partition instead of
        // a range-partitioned global sort (a sampling job plus a shuffle)
        RunStore.snapshot(s, root).coalesce(1)
          .sortWithinPartitions("run_id", "metric")
      })
  )
}
