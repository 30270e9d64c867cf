package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.ListenerDrain
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution,
  SparkPlan}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Semantic pins for the engine-side train steps (operators.Learn) —
  * the DuckDB oracle pins cross-engine value equality; these pin that
  * the math MEANS what it claims.
  */
class LearnSpec extends SparkSpec {

  test("kmeans partitions all points and orders centroids by price") {
    val rows = SparkEntry.queries("ml_kmeans_fixed_iters")(spark, sf)
      .collect()
    assert(rows.length == 3)
    val total = Tables.load(spark, sf, "orders").count()
    assert(rows.map(_.getLong(1)).sum == total, "every point assigned once")
    // price is the dominant axis; Lloyd preserves the ordered init
    val cys = rows.sortBy(_.getLong(0)).map(_.getDouble(3))
    assert(cys.sliding(2).forall { case Array(a, b) => a < b },
      s"centroid price order broken: ${cys.mkString(",")}")
  }

  test("logreg gradient descent reduces the quantized SSE") {
    val r = SparkEntry.queries("ml_logreg_gd")(spark, sf).collect()(0)
    val (sseInit, sseLast) = (r.getDouble(3), r.getDouble(4))
    assert(sseLast <= sseInit,
      s"descent failed: sse $sseInit -> $sseLast")
    // near-zero-signal label → the weight stays small, the bias moves
    // toward the class prior
    assert(math.abs(r.getDouble(1)) < 1.0)
  }

  test("two-feature OLS satisfies the normal equations") {
    val r = SparkEntry.queries("ml_linreg_two_features")(spark, sf)
      .collect()(0)
    val (b0, b1, b2, r2) =
      (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))
    assert(r2 >= 0.0 && r2 <= 1.0, s"r2 out of range: $r2")
    // residuals orthogonal to each regressor (X'(y − Xb) = 0): the
    // defining property of the OLS solution, checked to float slack
    val g = Tables.load(spark, sf, "orders")
      .selectExpr(
        "CAST(o_orderkey % 500 AS BIGINT) AS x1",
        "CAST(o_custkey % 300 AS BIGINT) AS x2",
        "CAST(round(o_totalprice * 100) AS BIGINT) AS y")
      .select(
        (col("y") - lit(b0) - lit(b1) * col("x1") - lit(b2) * col("x2"))
          .as("res"),
        col("x1"), col("x2"))
      .agg(avg("res").as("m0"), avg(col("res") * col("x1")).as("m1"),
        avg(col("res") * col("x2")).as("m2"))
      .collect()(0)
    // residual means scale with y (~2.5e7 cents); 6-decimal coefficient
    // rounding leaves per-row slack ~ |x|·5e-7 → generous 1.0 bound
    for (i <- 0 until 3)
      assert(math.abs(g.getDouble(i)) < 1.0,
        s"normal-equation moment $i = ${g.getDouble(i)}")
  }

  test("standardized feature has mean ~0, stddev ~1, minmax in [0,1]") {
    val df = SparkEntry.queries("ml_standardize_features")(spark, sf)
    val st = df.agg(
      avg("z_price").as("mz"), stddev("z_price").as("sz"),
      min("mm_price").as("lo"), max("mm_price").as("hi")).collect()(0)
    assert(math.abs(st.getDouble(0)) < 1e-3)
    assert(math.abs(st.getDouble(1) - 1.0) < 1e-3)
    assert(st.getDouble(2) == 0.0 && st.getDouble(3) == 1.0)
  }

  test("tree-family queries return their recorded rows") {
    // rows recorded at sf0.001 while a per-row body still ran beside the
    // cell-statistics one; both returned exactly these. Row.toString
    // prints each double's round-trip form, so equality is bit-exact.
    val golden = Seq(
      "ml_tree_hist_depth2" -> Seq(
        "[0,1,1,2,4,113,2.2044015354E7]",
        "[1,1,1,2,4,76,2.40288518684E7]",
        "[2,1,1,2,1,346,2.63061250607E7]",
        "[3,1,1,2,1,965,2.48969879927E7]"),
      "ml_tree_r2" -> Seq("[1500,0.005262]"),
      "ml_forest_bagged" -> Seq("[1500,2,5,1,8,1,1,0.009795]"),
      "ml_gbt_stumps" -> Seq("[1500,1,1,22842150,25268888,2,1,899175," +
        "-309393,2,0,-2085787,266604,0.007061]"),
      "pipeline_model_eval" ->
        Seq("[1242,258,1,2,23016793,25312961,-0.007787]"))
    for ((q, want) <- golden) {
      val got = SparkEntry.queries(q)(spark, sf).collect().map(_.toString)
      spark.catalog.clearCache()
      assert(got.toSeq == want, s"$q returned ${got.mkString(" | ")}")
    }
  }

  test("tree-family queries and ml_runs_log keep their output schemas") {
    // recorded at sf0.001 from the DataFrame learner these queries ran
    // before the driver-side fit; NOT NULL marks are part of the pin
    val schemas = Seq(
      "ml_tree_hist_depth2" -> ("leaf BIGINT NOT NULL,root_feat BIGINT " +
        "NOT NULL,root_thr BIGINT,split_feat BIGINT NOT NULL," +
        "split_thr BIGINT,n BIGINT,pred DOUBLE"),
      "ml_tree_r2" -> "n BIGINT,r2 DOUBLE",
      "ml_forest_bagged" -> ("n BIGINT,rf0 BIGINT NOT NULL,rt0 BIGINT," +
        "rf1 BIGINT NOT NULL,rt1 BIGINT,rf2 BIGINT NOT NULL,rt2 BIGINT," +
        "r2 DOUBLE"),
      "ml_gbt_stumps" -> ("n BIGINT," + (0 to 2).map(i =>
        s"sf$i BIGINT NOT NULL,st$i BIGINT,pl$i BIGINT,pr$i BIGINT,")
        .mkString + "r2 DOUBLE"),
      "pipeline_model_eval" -> ("n_train BIGINT,n_test BIGINT,sfeat " +
        "BIGINT NOT NULL,sthr BIGINT,pl BIGINT,pr BIGINT,r2 DOUBLE"),
      "ml_runs_log" -> ("run_id STRING,algo STRING,n_params BIGINT NOT " +
        "NULL,metric STRING,value DOUBLE"))
    for ((q, want) <- schemas) {
      val got = SparkEntry.queries(q)(spark, sf).schema.toDDL
      assert(got == want, s"$q schema $got")
    }
    // the ledger the tracking sink reads back, recorded alongside
    val ledger = SparkEntry.queries("ml_runs_log")(spark, sf).collect()
      .map(_.toString).toSeq
    assert(ledger == Seq(
      "[r1_ols_cents,ols_normal_equations,2,b0,2.4998770883681E7]",
      "[r1_ols_cents,ols_normal_equations,2,b1,1319.569498]",
      "[r1_ols_cents,ols_normal_equations,2,b2,-4911.661156]",
      "[r1_ols_cents,ols_normal_equations,2,n,1500.0]",
      "[r1_ols_cents,ols_normal_equations,2,r2,3.86E-4]",
      "[r2_tree_depth2,hist_tree_depth2,2,n,1500.0]",
      "[r2_tree_depth2,hist_tree_depth2,2,r2,0.005262]"),
      ledger.mkString(" | "))
  }

  test("each tree-family query scans orders ONCE") {
    // the one cellStats aggregation runs, and is collected, while the
    // frame is built; the frame returned is local. So scans are counted
    // over every plan the query executes, construct plus collect, as a
    // QueryExecutionListener reports them (over PlanSmells' audit
    // roots, so a scan hidden under a persist() still counts).
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        plans.add(qe.executedPlan); ()
      }
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.listenerManager.register(listener)
    try {
      for (q <- Seq("ml_gbt_stumps", "ml_forest_bagged",
          "pipeline_model_eval", "ml_tree_r2", "ml_tree_hist_depth2")) {
        ListenerDrain(spark.sparkContext)
        plans.clear()
        SparkEntry.queries(q)(spark, sf).collect()
        ListenerDrain(spark.sparkContext)
        val scans = plans.asScala.toSeq.map(p =>
          PlanSmells.auditRoots(p).map(_.collectWithSubqueries {
            case s: FileSourceScanExec
                if s.relation.location.rootPaths
                  .exists(_.getName == "orders.parquet") => s
          }.size).sum).sum
        assert(scans == 1,
          s"$q scans orders $scans times over ${plans.size} plans")
      }
    } finally {
      spark.listenerManager.unregister(listener)
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  test("depth-2 tree partitions all rows into 4 leaves and reduces SSE") {
    val leaves = SparkEntry.queries("ml_tree_hist_depth2")(spark, sf)
      .collect()
    assert(leaves.length == 4, s"expected 4 leaves, got ${leaves.length}")
    val total = Tables.load(spark, sf, "orders").count()
    assert(leaves.map(_.getLong(5)).sum == total,
      "leaves must partition the training set")
    // a real split: not all leaf predictions identical
    assert(leaves.map(_.getDouble(6)).distinct.length > 1,
      "degenerate tree: all leaves predict the same value")
    // each leaf's split path is internally consistent: features in
    // {1,2}, thresholds inside the bin range
    for (r <- leaves) {
      assert(Set(1L, 2L).contains(r.getLong(1)) &&
        Set(1L, 2L).contains(r.getLong(3)))
      assert(r.getLong(2) >= 0 && r.getLong(2) < 16)
      assert(r.getLong(4) >= 0 && r.getLong(4) < 16)
    }
    // train-set r² of exact leaf means is ≥ 0 by construction; integer
    // flooring of predictions costs < 1 cent/row against an SST in
    // cents² — the bound survives
    val r2 = SparkEntry.queries("ml_tree_r2")(spark, sf)
      .collect()(0).getDouble(1)
    assert(r2 >= -1e-6 && r2 <= 1.0, s"r2 out of range: $r2")
  }

  test("bagged forest scores every row; root splits are well-formed") {
    val r = SparkEntry.queries("ml_forest_bagged")(spark, sf).collect()(0)
    // every order is scored exactly once by the ensemble (the three
    // per-tree score passes compose, never filter)
    assert(r.getLong(0) == Tables.load(spark, sf, "orders").count())
    for (i <- Seq(1, 3, 5))
      assert(Set(1L, 2L).contains(r.getLong(i)),
        s"root feature out of domain at col $i: ${r.getLong(i)}")
    for (i <- Seq(2, 4, 6))
      assert(r.getLong(i) >= 0 && r.getLong(i) < 16)
    val r2 = r.getDouble(7)
    // averaging 3 bag-trained trees can dip slightly below the single
    // tree on TRAIN data but must stay a sane fit score
    assert(r2 >= -0.5 && r2 <= 1.0, s"forest r2 out of range: $r2")
  }

  test("one-scan CV models equal brute-force per-fold OLS") {
    val rows = SparkEntry.queries("ml_cv_3fold_linreg")(spark, sf)
      .collect()
    assert(rows.length == 3)
    val f = Tables.load(spark, sf, "orders").selectExpr(
      "o_custkey % 3 AS fold",
      "CAST(o_orderkey % 500 AS DOUBLE) AS x",
      "CAST(round(o_totalprice * 100) AS DOUBLE) AS y")
    for (r <- rows) {
      val fold = r.getLong(0)
      // brute force: OLS fit on the two TRAIN folds directly
      val t = f.filter(col("fold") =!= fold)
        .agg(count(lit(1)).cast("double").as("n"), sum("x").as("sx"),
          sum("y").as("sy"), sum(col("x") * col("x")).as("sxx"),
          sum(col("x") * col("y")).as("sxy"))
        .selectExpr("(n*sxy - sx*sy) / (n*sxx - sx*sx) AS b",
          "n", "sx", "sy", "sxy", "sxx")
        .selectExpr("b", "(sy - b*sx)/n AS a").collect()(0)
      assert(math.abs(r.getDouble(2) - t.getDouble(0)) < 1e-4,
        s"fold $fold slope: complement-sum ${r.getDouble(2)} vs " +
          s"direct ${t.getDouble(0)}")
      assert(math.abs(r.getDouble(3) - t.getDouble(1)) < 1e-2,
        s"fold $fold intercept mismatch")
      assert(r.getDouble(4) <= 1.0, "holdout r2 above 1")
    }
  }

  test("boosted stumps never increase train SSE; models well-formed") {
    val r = SparkEntry.queries("ml_gbt_stumps")(spark, sf).collect()(0)
    assert(r.getLong(0) == Tables.load(spark, sf, "orders").count())
    for (i <- Seq(1, 5, 9)) // sf0, sf1, sf2
      assert(Set(1L, 2L).contains(r.getLong(i)),
        s"stump feature out of domain at col $i")
    // squared-loss boosting fits residual means: train SSE is
    // non-increasing per round, so final train r² ≥ 0 up to the ≤1-cent
    // integer flooring of each round's leaf values
    val r2 = r.getDouble(13)
    assert(r2 >= -1e-3 && r2 <= 1.0, s"boosted train r2 out of range: $r2")
    // rounds 2+ fit residuals: their side values must straddle zero
    // (a residual fit with both leaves the same sign would mean round 1
    // left global signal on the table)
    for (i <- Seq(7, 11))
      assert(r.getLong(i) <= 0 || r.getLong(i + 1) <= 0,
        s"residual stump $i has both side values positive")
  }

  test("histogram AUC equals the brute-force pairwise U statistic") {
    val r = SparkEntry.queries("ml_auc_rank")(spark, sf).collect()(0)
    // u2 accumulates DECIMAL(38,0) (BIGINT overflows at 100 TB
    // cardinality) and is emitted as its canonical digit string
    val (nPos, nNeg, u2) =
      (r.getLong(0), r.getLong(1), r.getString(2).toLong)
    val scored = Tables.load(spark, sf, "orders").selectExpr(
      "CAST(round(o_totalprice * 100) AS BIGINT) AS sc",
      "CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') " +
        "THEN 1 ELSE 0 END AS pos")
    assert(nPos == scored.filter("pos = 1").count())
    assert(nNeg == scored.filter("pos = 0").count())
    // brute force: every (pos, neg) pair contributes 2 for a win, 1
    // for a tie — O(n²) is exactly what the histogram form avoids
    val p = scored.filter("pos = 1").select(col("sc").as("ps"))
    val n = scored.filter("pos = 0").select(col("sc").as("ns"))
    val u2Direct = p.crossJoin(n)
      .selectExpr(
        "sum(CASE WHEN ps > ns THEN 2 WHEN ps = ns THEN 1 ELSE 0 END) u")
      .collect()(0).getLong(0)
    assert(u2 == u2Direct, s"histogram 2U $u2 vs pairwise $u2Direct")
    assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
  }

  test("power-iteration PC equals an exact BigInt replay of the algebra") {
    val got = SparkEntry.queries("ml_pca_power_iter")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 64)
    // replay the whole chain in arbitrary-precision integers from the
    // raw floats — any quantization, overflow, or division-semantics
    // drift in the engine pipeline would break exact equality
    val rows = Tables.load(spark, sf, "embeddings")
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(v =>
        BigInt(math.floor(v.toDouble * 1048576).toLong)).toArray)
    val d = 64
    val n = BigInt(rows.length)
    val s = Array.tabulate(d)(j => rows.map(_(j)).sum)
    def cij(i: Int, j: Int): BigInt =
      n * rows.map(r => r(i) * r(j)).sum - s(i) * s(j)
    val v1 = Array.tabulate(d)(i => (0 until d).map(j => cij(i, j)).sum)
    def sdiv(v: BigInt, c: BigInt): BigInt =
      if (v < 0) -(v.abs / c) else v.abs / c
    val vs = v1.map(sdiv(_, BigInt(2).pow(40)))
    val v2 = Array.tabulate(d)(j => (0 until d).map(i => cij(i, j) * vs(i)).sum)
    val want = v2.map(sdiv(_, BigInt(2).pow(56)).toLong)
    for (j <- 0 until d)
      assert(got(j.toLong) == want(j),
        s"component $j: engine ${got(j.toLong)} vs BigInt ${want(j)}")
    assert(want.exists(_ != 0L), "degenerate all-zero direction")
  }

  test("A/B readout: buckets tile the users; z matches a direct recompute") {
    val r = SparkEntry.queries("ml_ab_test_ztest")(spark, sf).collect()(0)
    val (na, ca, nb, cb) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val users = Tables.load(spark, sf, "events")
      .select("user_id").distinct().count()
    assert(na + nb == users, "variants must partition the users")
    assert(ca <= na && cb <= nb)
    // assignment is content-blind md5 → near-balanced buckets (only
    // meaningful once the law of large numbers has something to work
    // with; sf0.001 has ~15 users)
    if (users >= 100)
      assert(math.abs(na - nb).toDouble / users < 0.35,
        s"suspiciously unbalanced buckets: $na vs $nb")
    assert(na > 0 && nb > 0)
    val (ra, rb) = (ca.toDouble / na, cb.toDouble / nb)
    val p = (ca + cb).toDouble / (na + nb)
    val z = (ra - rb) / math.sqrt(p * (1 - p) * (1.0 / na + 1.0 / nb))
    assert(math.abs(r.getDouble(6) - z) < 1e-5,
      s"z mismatch: engine ${r.getDouble(6)} vs direct $z")
  }

  test("calibration bins tile the rows and order by score") {
    val rows = SparkEntry.queries("ml_calibration_bins")(spark, sf)
      .collect()
    assert(rows.map(_.getLong(0)).toSeq ==
      rows.map(_.getLong(0)).sorted.toSeq)
    assert(rows.forall(r => r.getLong(0) >= 0 && r.getLong(0) <= 9))
    val total = Tables.load(spark, sf, "orders").count()
    assert(rows.map(_.getLong(1)).sum == total, "bins must tile the rows")
    assert(rows.forall(r => r.getLong(2) <= r.getLong(1)))
    assert(rows.forall(r => r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0))
  }

  test("train/holdout eval: split tiles the rows; model fits train only") {
    val r = SparkEntry.queries("pipeline_model_eval")(spark, sf)
      .collect()(0)
    val total = Tables.load(spark, sf, "orders").count()
    assert(r.getLong(0) + r.getLong(1) == total,
      "train + test must tile the table")
    assert(r.getLong(1) > 0, "empty holdout")
    assert(Set(1L, 2L).contains(r.getLong(2)), "stump feature domain")
    // holdout r² of a depth-1 stump on weak synthetic signal: bounded
    // above by 1, and not catastrophically negative (a sign the model
    // was fit on the wrong split or scored against train)
    val r2 = r.getDouble(6)
    assert(r2 <= 1.0 && r2 > -1.0, s"holdout r2 out of range: $r2")
  }

  test("chi2 statistic matches a driver-side contingency recompute") {
    val r = SparkEntry.queries("ml_chi2_feature_assoc")(spark, sf)
      .collect()(0)
    val cells = Tables.load(spark, sf, "orders")
      .groupBy("o_orderpriority", "o_orderstatus").count().collect()
      .map(x => ((x.getString(0), x.getString(1)), x.getLong(2))).toMap
    val n = cells.values.sum.toDouble
    val rt = cells.groupBy(_._1._1).view.mapValues(_.values.sum)
    val ct = cells.groupBy(_._1._2).view.mapValues(_.values.sum)
    val chi2 = cells.map { case ((a, b), obs) =>
      val exp = rt(a) * ct(b) / n
      (obs - exp) * (obs - exp) / exp
    }.sum
    assert(r.getLong(0) == n.toLong)
    assert(r.getLong(1) == (rt.size - 1).toLong * (ct.size - 1))
    // the engine quantizes per-cell at 1e-9; 15 cells → ≤ 1.5e-8 drift
    assert(math.abs(r.getDouble(3) - chi2) < 1e-3,
      s"chi2: engine ${r.getDouble(3)} vs direct $chi2")
  }

  test("confusion cells tile the table; F1 consistent with P and R") {
    val r = SparkEntry.queries("ml_confusion_threshold")(spark, sf)
      .collect()(0)
    val cells = (0 to 3).map(r.getLong)
    assert(cells.sum == Tables.load(spark, sf, "orders").count(),
      "confusion cells must partition the rows")
    assert(cells.forall(_ > 0), s"degenerate threshold: $cells")
    val (prec, rec, f1) = (r.getDouble(4), r.getDouble(5), r.getDouble(6))
    assert(math.abs(f1 - 2 * prec * rec / (prec + rec)) < 1e-5,
      "F1 is not the harmonic mean of precision and recall")
  }

  test("RunStore ledger appends runs without disturbing earlier ones") {
    import operators.RunStore
    val root = s"${Tables.scratchRoot}/mlruns-spec"
    RunStore.reset(spark, root)
    RunStore.log(spark, root, "a", "algo_a", Seq("k" -> "v"),
      spark.range(1).selectExpr("1.5 AS m1", "2.0 AS m2"))
    RunStore.log(spark, root, "b", "algo_b",
      Seq("k1" -> "v1", "k2" -> "v2"),
      spark.range(1).selectExpr("3.25 AS m1"))
    val snap = RunStore.snapshot(spark, root).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getString(3), r.getDouble(4))).toSet
    assert(snap == Set(
      ("a", "algo_a", 1L, "m1", 1.5), ("a", "algo_a", 1L, "m2", 2.0),
      ("b", "algo_b", 2L, "m1", 3.25)))
    // string params round-trip verbatim
    val params = spark.read.parquet(s"$root/params").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(params ==
      Set(("a", "k", "v"), ("b", "k1", "v1"), ("b", "k2", "v2")))
    // append-only: a later run (even param-less) leaves earlier rows
    // untouched and still appears in the ledger
    RunStore.log(spark, root, "c", "algo_c", Nil,
      spark.range(1).selectExpr("9.0 AS z"))
    val snap2 = RunStore.snapshot(spark, root).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getString(3))).toSet
    assert(snap2 == Set(("a", 1L, "m1"), ("a", 1L, "m2"),
      ("b", 2L, "m1"), ("c", 0L, "z")))
    // the JDBC-facing views resolve over the same store
    RunStore.registerViews(spark, root)
    assert(spark.sql("SELECT count(*) FROM ml_runs").head().getLong(0) == 3)
  }

  test("one RunStore.log adds exactly one parquet file per ledger table") {
    val root = s"${Tables.scratchRoot}/mlruns-files-spec"
    operators.RunStore.reset(spark, root)
    // 4 params and 3 metrics: an uncoalesced local relation splits them
    operators.RunStore.log(spark, root, "a", "algo_a",
      (1 to 4).map(i => s"k$i" -> s"v$i"),
      spark.range(1).selectExpr("1.0 AS m1", "2.0 AS m2", "3.0 AS m3"))
    for (table <- Seq("runs", "params", "metrics")) {
      val files = new java.io.File(s"$root/$table").list()
        .filter(_.endsWith(".parquet"))
      assert(files.length == 1, s"$table: one log wrote ${files.mkString(", ")}")
    }
  }
}
