package graft

import org.apache.spark.sql.functions._

/** Gate-calibration probe for dedup_semantic_two_stage's occupancy
  * gate: on a scaled corpus, print the real per-cell occupancy
  * distribution at the adaptive k, then time the gated query across a
  * gate sweep (0 = every cell LSH, ∞ = every cell direct) against
  * cells-only. The 512 first-cut gate was derived from round 13's
  * TWO-POINT regime probe (occupancy 150 vs 2400); scaled corpora are
  * cell-SKEWED (copies concentrate around the base centroids), so the
  * crossover needs measuring on the heterogeneous distribution the
  * per-cell gate actually routes — that is this probe's artifact
  * (`BENCH_gate_sweep_r14.json`).
  *
  * Run: sbt "Test/runMain graft.TwoStageGateProbe <dir> <outJson>"
  */
object TwoStageGateProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse(s"${Tables.scratchRoot}/scale10")
    val outJson = args.lift(1).getOrElse("BENCH_gate_sweep_r14.json")
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")

    val n = Tables.footerRowCount(spark, s"$dir/embeddings.parquet") * 6 / 5
    val k = operators.Dedup.semCellCount(n)
    // occupancy distribution at the adaptive k (k-row agg — bounded)
    val occ = operators.Dedup.semCellAssign(
        operators.Dedup.embPlantedCorpus(spark, dir),
        operators.Dedup.semCellCodebook(spark, dir, k))
      .groupBy("cell").count()
    val qs = occ.stat.approxQuantile("count",
      Array(0.0, 0.5, 0.9, 0.99, 1.0), 0.0)
    val above512 = occ.filter(col("count") > 512).count()
    val above2048 = occ.filter(col("count") > 2048).count()
    val cells = occ.count()
    spark.catalog.clearCache()
    println(f"[gate] n=$n k=$k cells=$cells occ min/med/p90/p99/max=" +
      qs.map(_.toLong).mkString("/") +
      s" cells>512: $above512, cells>2048: $above2048")

    def time2(body: => Long): (Double, Long) = {
      def once(): (Double, Long) = {
        val t0 = System.nanoTime()
        val r = body
        spark.catalog.clearCache()
        (math.round((System.nanoTime() - t0) / 1e9 * 1000) / 1000.0, r)
      }
      val (t1, r) = once(); val (t2, _) = once()
      (math.min(t1, t2), r)
    }
    // untimed warmup
    operators.Dedup.semCellPairs(spark, dir, k).count()
    spark.catalog.clearCache()
    val (tCells, nCells) = time2(
      operators.Dedup.semCellPairs(spark, dir, k).count())
    // heavy all-LSH (gate 0) runs LAST: its 24-table explode leaves GC
    // pressure that read a following all-direct row 8× high in the
    // first cut. 128 is a genuinely SPLITTING gate on this corpus
    // (occupancies 109–196), exercising heterogeneous per-cell routing.
    val rows = for (g <- Seq(Long.MaxValue, 4096L, 2048L, 1024L, 512L,
        128L, 0L))
      yield {
        val (t, p) = time2(operators.Dedup
          .semCellTwoStagePairs(spark, dir, k, gate = g).count())
        println(f"[gate] gate=$g%-20s ${t}s pairs=$p (cells-only " +
          f"${tCells}s/$nCells)")
        require(p == nCells, s"gate $g changed the pair set: $p != $nCells")
        s"""{"gate":$g,"sec":$t,"pairs":$p}"""
      }
    val json = s"""{"dir":"$dir","n":$n,"k":$k,"cells":$cells,""" +
      s""""occ_quantiles":[${qs.map(_.toLong).mkString(",")}],""" +
      s""""cells_gt_512":$above512,"cells_gt_2048":$above2048,""" +
      s""""cells_only_sec":$tCells,"cells_only_pairs":$nCells,""" +
      s""""sweep":[${rows.mkString(",")}]}\n"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson), json)
    println(s"[gate] wrote $outJson")
    spark.stop()
  }
}
