package graft

import operators.Learn

/** The driver-side tree learner (operators.Learn: cellStats → treeFit /
  * stumpFit) on crafted cells, and the Spark work the tree family and
  * the tracking sink cost.
  */
class TreeLearnerSpec extends SparkSpec {

  private def row(xs: Any*): String = xs.mkString("[", ",", "]")

  /** Leaves, per-cell predictions, eval sums and stump of one fixture,
    * formatted as the DataFrame learner's rows printed. */
  private def fit(rows: Seq[(Long, Long, Long)]): Seq[String] = {
    val s = spark
    import s.implicits._
    val cells = Learn.cellStats(rows.toDF("b1", "b2", "y"))
    val tree = Learn.treeFit(cells)
    val leaves = tree.toSeq.flatMap(t =>
      t.leaves.toSeq.sortBy(_._1).map { case (l, (n, sy)) =>
        val k = t.kids(l / 2)
        row(l, t.root.feat, t.root.thr, k.feat, k.thr, n, sy)
      })
    val scored = tree.toSeq.flatMap(t =>
      cells.sortBy(c => (c.b1, c.b2)).flatMap(c => t.predict(c).map(c -> _)))
    Seq(leaves.mkString(" | "),
      scored.map { case (c, p) => row(c.b1, c.b2, p) }.mkString(" | "),
      row(Learn.evalSums(scored, scored.nonEmpty): _*),
      Learn.stumpFit(cells).map(m =>
        row(m.split.feat, m.split.thr, m.pl, m.pr)).getOrElse(""))
  }

  test("driver learner reproduces the DataFrame learner's edge cases") {
    // Expected rows were recorded from the DataFrame learner (histogram
    // passes, window split selection, broadcast joins) on these inputs.
    // Root split b1 <= 2 leaves node 0 with one cell, in one bin on both
    // features: no split, so its cells drop out of leaves and scoring.
    assert(fit(Seq((2L, 5L, 0L), (2L, 5L, 10L), (2L, 5L, 20L),
      (2L, 5L, 0L), (2L, 5L, 10L), (2L, 5L, 20L), (7L, 1L, 1000L),
      (7L, 9L, 1500L), (9L, 1L, 2000L), (9L, 9L, 2600L),
      (12L, 4L, 3000L))) == Seq(
      "[2,1,2,1,7,2,2500] | [3,1,2,1,7,3,7600]",
      "[7,1,1250] | [7,9,1250] | [9,1,2533] | [9,9,2533] | [12,4,2533]",
      "[5,631667,10100,23010000]",
      "[1,2,10,2020]"))
    // b1 = b2 and a palindromic target: every root score is tied
    // between the features and between bins 0 and 6 — (feat 1, bin 0)
    // wins — and node 0 is again a single cell.
    assert(fit(Seq((0L, 0L, 3L), (1L, 1L, 0L), (2L, 2L, 0L), (3L, 3L, 3L),
      (4L, 4L, 3L), (5L, 5L, 0L), (6L, 6L, 0L), (7L, 7L, 3L))) == Seq(
      "[2,1,0,1,2,2,0] | [3,1,0,1,2,5,9]",
      "[1,1,0] | [2,2,0] | [3,3,1] | [4,4,1] | [5,5,1] | [6,6,1] | [7,7,1]",
      "[7,14,9,27]",
      "[1,0,3,1]"))
    // one cell: no root split, nothing scored, SQL-null sums
    assert(fit(Seq((3L, 3L, 5L), (3L, 3L, 8L))) ==
      Seq("", "", "[null,null,null,null]", ""))
  }

  test("tree-family queries run at most 3 jobs; ml_runs_log at most 11") {
    Tables.load(spark, sf, "orders") // schema inference is not the query's
    val limits = Seq("ml_tree_hist_depth2" -> 3, "ml_tree_r2" -> 3,
      "ml_forest_bagged" -> 3, "ml_gbt_stumps" -> 3,
      "pipeline_model_eval" -> 3, "ml_runs_log" -> 11)
    for ((q, limit) <- limits) {
      val jobs = jobsDuring(SparkEntry.queries(q)(spark, sf).collect())
      assert(jobs <= limit, s"$q launched $jobs jobs")
      assert(spark.sharedState.cacheManager.isEmpty,
        s"$q left a persisted frame behind")
    }
  }
}
