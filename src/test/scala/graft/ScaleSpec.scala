package graft

import org.apache.spark.sql.functions._

/** Pins for the scale-technique family (operators/Scale.scala): each
  * approximate pruning structure (bloom bits, grid cells) must be
  * result-invisible — the query with the pruning step enabled equals the
  * plain declarative form — and the oracle's determinism preconditions
  * (tie-free mode) must hold on the testdata so DuckDB parity can't flake.
  */
class ScaleSpec extends SparkSpec {

  private def q(name: String) =
    SparkEntry.queries(name)(spark, sf)

  test("bloom prefilter is result-invisible vs the plain join") {
    val withBloom = q("join_bloom_prefilter").collect().toSeq
    val plain = {
      val hi = Tables.load(spark, sf, "orders")
        .filter(col("o_totalprice") > 400000)
        .select("o_orderkey", "o_orderpriority")
      Tables.load(spark, sf, "lineitem")
        .join(hi, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
          count(lit(1)).as("n_lines"),
          sum(round(col("l_extendedprice") * 100).cast("long"))
            .cast("long").as("revenue_cents"))
        .orderBy("o_orderpriority")
        .collect().toSeq
    }
    assert(withBloom == plain)
  }

  test("bloom prefilter actually prunes probe rows before the join") {
    Tables.registerViews(spark, sf)
    val hi = Tables.load(spark, sf, "orders")
      .filter(col("o_totalprice") > 400000)
      .select("o_orderkey")
    val li = Tables.load(spark, sf, "lineitem").select("l_orderkey")
    val kept = spark.sql("""
      SELECT count(*) FROM lineitem
      WHERE might_contain(
        (SELECT bloom_filter_agg(xxhash64(o_orderkey), 50000L, 1048576L)
         FROM orders WHERE o_totalprice > 400000),
        xxhash64(l_orderkey))""").collect().head.getLong(0)
    val total = li.count()
    val trueMatch = li
      .join(hi, col("l_orderkey") === col("o_orderkey"), "left_semi").count()
    // sketch keeps every true match (no false negatives) and drops a
    // meaningful share of the rest (fpp ≪ 1 at this sizing)
    assert(kept >= trueMatch)
    assert(kept < total,
      s"prefilter dropped nothing (kept=$kept of $total)")
  }

  test("spatial grid join equals the naive all-pairs radius search") {
    val grid = q("join_spatial_grid").collect().toSeq
    val cust = Tables.load(spark, sf, "customer").select(
      (col("c_custkey") * 37 % 1000).as("px"),
      (col("c_custkey") * 61 % 1000).as("py"))
    val supp = Tables.load(spark, sf, "supplier").select(
      col("s_suppkey"),
      (col("s_suppkey") * 41 % 1000).as("qx"),
      (col("s_suppkey") * 73 % 1000).as("qy"))
    val d2 = (col("px") - col("qx")) * (col("px") - col("qx")) +
      (col("py") - col("qy")) * (col("py") - col("qy"))
    val naive = supp.crossJoin(cust) // spec-only oracle; never in the op
      .filter(d2 <= 3600)
      .groupBy("s_suppkey")
      .agg(count(lit(1)).as("n_neighbors"), min(d2).cast("long").as("min_d2"))
      .orderBy("s_suppkey")
      .collect().toSeq
    assert(grid == naive)
  }

  test("spatial grid join plan is an equi-join (no cartesian)") {
    val plan = SparkEntry.queries("join_spatial_grid")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("mode oracle precondition: one strictly-max priority per status") {
    // agg_mode_median's DuckDB parity requires a unique mode — assert it
    // at sf0.01 (the driver's oracle scale; sf0.001 has a 2-way tie in
    // status P) so a testdata change fails this spec, not the driver
    val atMax = Tables.load(spark, "/root/testdata/sf0.01", "orders")
      .groupBy("o_orderstatus", "o_orderpriority").count()
      .withColumn("mx",
        max("count").over(org.apache.spark.sql.expressions.Window
          .partitionBy("o_orderstatus")))
      .filter(col("count") === col("mx"))
      .groupBy("o_orderstatus").count()
      .collect()
    assert(atMax.nonEmpty)
    atMax.foreach(r => assert(r.getLong(1) == 1L,
      s"mode tie in status ${r.get(0)}"))
  }

  test("regr_slope matches the closed-form covariance ratio") {
    val engine = q("agg_regr_family")
      .select("l_returnflag", "slope").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val closed = Tables.load(spark, sf, "lineitem")
      .groupBy("l_returnflag")
      .agg(round(
        (avg(col("l_extendedprice") * col("l_quantity")) -
          avg("l_extendedprice") * avg("l_quantity")) /
          (avg(col("l_quantity") * col("l_quantity")) -
            avg("l_quantity") * avg("l_quantity")), 4).as("slope"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(engine.keySet == closed.keySet)
    engine.foreach { case (k, v) =>
      assert(math.abs(v - closed(k)) < 1e-3, s"slope mismatch for $k")
    }
  }

  test("ignore-nulls navigation carries the last purchase forward") {
    import spark.implicits._
    val df = Seq(
      (1L, 10L, "view", 1.0),
      (2L, 10L, "purchase", 5.0),
      (3L, 10L, "click", 2.0),
      (4L, 10L, "purchase", 7.0),
      (5L, 10L, "view", 3.0))
      .toDF("event_id", "user_id", "event_type", "value")
      .withColumn("ts", timestamp_micros(col("event_id") * 1000000L))
    df.createOrReplaceTempView("spec_events")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    val pv = when(col("event_type") === "purchase", col("value"))
    val out = df.select(
      col("event_id"),
      lag(pv, 1, null, ignoreNulls = true).over(w).as("prev"),
      last(pv, ignoreNulls = true)
        .over(w.rowsBetween(Long.MinValue, 0)).as("carry"))
      .orderBy("event_id")
      .collect()
      .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2))))
    assert(out.toSeq == Seq(
      (1L, None, None),
      (2L, None, Some(5.0)),
      (3L, Some(5.0), Some(5.0)),
      (4L, Some(5.0), Some(7.0)),
      (5L, Some(7.0), Some(7.0))))
  }

  test("skew profile: totals reconcile and skew factor ≥ 1") {
    val row = q("quality_key_skew_profile").collect().head
    val nRows = Tables.load(spark, sf, "lineitem").count()
    assert(row.getAs[Long]("n_rows") == nRows)
    assert(row.getAs[Long]("max_key_rows") >= row.getAs[Long]("p99_key_rows"))
    assert(row.getAs[Long]("p99_key_rows") >= row.getAs[Long]("p50_key_rows"))
    assert(row.getAs[Double]("skew_factor") >= 1.0)
  }

  test("hinted SQL join: hints reach the physical plan") {
    val plan = SparkEntry.queries("sql_join_hints")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "BROADCAST(nation) hint did not produce a broadcast-hash join")
    assert(plan.contains("SortMergeJoin"),
      "MERGE(orders) hint did not pin sort-merge for the fact join")
  }

  test("top-k ranking plans as TakeOrderedAndProject, not a full-input" +
      " window sort") {
    val plan = SparkEntry.queries("text_bm25_retrieval")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-20 cap is not a distributed top-k:\n${plan.take(2000)}")
  }

  test("seasonal decomposition reassembles: trend + seasonal + resid = y") {
    val rows = SparkEntry.queries("ts_seasonal_decompose")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val y = r.getLong(2).toDouble
      val sum = r.getDouble(3) + r.getDouble(4) + r.getDouble(5)
      // each component is independently rounded at 1e-6
      assert(math.abs(y - sum) < 1e-5,
        s"${r.getString(0)} ${r.getString(1)}: $y != $sum")
    }
    // seasonal deviations sum to ~0 within each type (mean-deviation
    // identity, weighted by hour-of-day counts)
    val byType = rows.groupBy(_.getString(0))
    for ((t, g) <- byType) {
      val hodSeas = g.map(r => (r.getString(1).takeRight(5).take(2),
        r.getDouble(4))).distinct
      assert(hodSeas.length <= 24, s"$t: >24 distinct seasonal values")
    }
  }

  test("rolling slope equals a direct OLS on each trailing window") {
    val rows = SparkEntry.queries("ts_rolling_slope")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    assert(rows.nonEmpty)
    // warm-up rows (frame < 13) are null, mature rows are not
    assert(rows.filter(_._3 < 13).forall(_._4.isEmpty))
    assert(rows.filter(_._3 >= 13).forall(_._4.isDefined))
    // direct recompute for one type from the hourly series
    val hourly = Tables.load(spark, sf, "events")
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(sum(round(col("value") * 100).cast("long")).as("y"))
      .selectExpr("event_type",
        "date_format(h, 'yyyy-MM-dd HH:mm') AS hour",
        "CAST(unix_timestamp(h) AS BIGINT) DIV 3600 - 480000 AS x", "y")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val typ = hourly.head._1
    val series = hourly.filter(_._1 == typ).sortBy(_._2)
    for ((_, hour, _, _) <- series.drop(12).take(20)) {
      val i = series.indexWhere(_._2 == hour)
      val w = series.slice(math.max(0, i - 24), i + 1)
      val (n, sx, sy) = (w.length.toDouble, w.map(_._3).sum.toDouble,
        w.map(_._4).sum.toDouble)
      val sxy = w.map(p => p._3 * p._4).sum.toDouble
      val sxx = w.map(p => p._3 * p._3).sum.toDouble
      val want = (n * sxy - sx * sy) / (n * sxx - sx * sx)
      val got = rows.find(r => r._1 == typ && r._2 == hour).get._4.get
      assert(math.abs(got - want) < 1e-4,
        s"$typ $hour: engine $got vs direct $want")
    }
  }

  test("bitmap distinct count agrees with count(DISTINCT)") {
    val r = SparkEntry.queries("agg_bitmap_exact_distinct")(spark, sf)
      .collect()(0)
    assert(r.getLong(3) == 1L,
      s"bitmap ${r.getLong(0)} != direct ${r.getLong(1)}")
    assert(r.getLong(2) <= r.getLong(0),
      "more chunks than distinct ids")
  }

  test("global sample-id numbering range-partitions the data path") {
    // the data-path exchange must be rangepartitioning (ordered parallel
    // partitions); the only single-partition frame is the ≤16-row
    // per-partition count table that produces the offsets
    val plan = SparkEntry.queries("curate_assign_sample_ids")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("rangepartitioning"),
      s"no range partitioning on the id-assignment path:\n${plan.take(2000)}")
    // and the result matches the single-partition window formulation
    val viaWindow = Tables.load(spark, sf, "documents")
      .select(col("doc_id"))
      .withColumn("sample_id", expr(
        "row_number() OVER (ORDER BY md5(CAST(doc_id AS STRING) || ':ids'), doc_id)").cast("long"))
    val got = SparkEntry.queries("curate_assign_sample_ids")(spark, sf)
    assert(got.exceptAll(viaWindow).isEmpty &&
      viaWindow.exceptAll(got).isEmpty,
      "two-pass numbering diverged from the global-window formulation")
  }
}
