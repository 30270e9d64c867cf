package graft

import org.apache.spark.sql.functions._
import graft.functions.{Vectors, VectorExprs}

/** The codegen'd vector kernels must be bit-identical to the Column-HOF
  * reference implementations (same fold order, same plane formula) — the
  * ANN tuning and dedup thresholds are calibrated against those.
  */
class VectorExprsSpec extends SparkSpec {

  private def emb = Tables.load(spark, sf, "embeddings")
    .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))

  test("cosine_sim expression == HOF cosine on real embeddings") {
    val pairs = emb.as("a").crossJoin(emb.as("b").limit(5))
      .select(col("a.vec").as("va"), col("b.vec").as("vb"))
    val diff = pairs
      .withColumn("c_expr", VectorExprs.cosine(col("va"), col("vb")))
      .withColumn("c_hof", Vectors.cosine(col("va"), col("vb")))
      .filter(abs(col("c_expr") - col("c_hof")) > 1e-12 ||
        col("c_expr").isNull =!= col("c_hof").isNull)
    assert(diff.count() == 0)
  }

  test("cosine_sim nulls out on zero vectors") {
    val z = emb.limit(3)
      .withColumn("zero", expr("transform(vec, x -> 0.0d)"))
      .select(VectorExprs.cosine(col("vec"), col("zero")).as("c"))
    assert(z.collect().forall(_.isNullAt(0)))
  }

  test("sorted_intersect_size rejects nullable-element arrays at analysis") {
    // a bare array() literal with a null slot types as containsNull=true;
    // getLong on a null slot would read garbage, so the expression must
    // refuse at analysis instead of producing a wrong count
    val e = intercept[Exception] {
      spark.sql(
        "SELECT sorted_intersect_size(array(1L, CAST(NULL AS BIGINT))," +
          " array(1L, 2L))").collect()
    }
    assert(e.getMessage.contains("sorted_intersect_size") ||
      e.getMessage.contains("DATATYPE_MISMATCH"), e.getMessage)
    // the non-null fast path still works through SQL
    val ok = spark.sql(
      """SELECT sorted_intersect_size(
           array_sort(array_distinct(array(3L, 1L, 2L))),
           array_sort(array_distinct(array(2L, 3L, 9L)))) AS c""")
      .collect()(0).getInt(0)
    assert(ok == 2)
  }

  test("withLoopWidth pins and restores both shuffle width confs") {
    val initKey =
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    // case 1: initialPartitionNum previously unset → must be unset again
    spark.conf.unset(initKey)
    Tables.withLoopWidth(spark, 17L) {
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "17")
      assert(spark.conf.get(initKey) == "17")
    }
    assert(spark.conf.get("spark.sql.shuffle.partitions") == prevParts)
    assert(spark.conf.getOption(initKey).isEmpty)
    // case 2: a harness-style session-wide value must win back after
    spark.conf.set(initKey, "256")
    Tables.withLoopWidth(spark, 9L) {
      assert(spark.conf.get(initKey) == "9",
        "measured loop width must override the session-wide AQE width")
    }
    assert(spark.conf.get(initKey) == "256")
    spark.conf.unset(initKey)
  }

  test("nearest_centroid memo never serves a stale codebook: per-row " +
      "codebooks differing ONLY in interior words assign per-row") {
    // the ADVICE-r13 aliasing scenario, made functional: a projection
    // writes every row's codebook into the SAME reused BufferHolder
    // (identical baseObject/baseOffset), the head word is the constant
    // numElements, the tail word is the constant last centroid's last
    // element, and the byte length never changes — so a fingerprint
    // that reads only boundaries hits stale and returns the PREVIOUS
    // row's decoded codebook. Only the varying MIDDLE centroid decides
    // the winner: even rows carry c1 = vec (cos 1 → cell 1 wins), odd
    // rows c1 = -vec (cos −1; c0 and c2 tie at cos 0 → lowest cell 0).
    val sign = when(pmod(col("id"), lit(2)) === 0, lit(1.0))
      .otherwise(lit(-1.0))
    val cb = array(
      struct(lit(0L).as("cell"),
        array(lit(1.0), lit(0.0), lit(0.0), lit(0.0)).as("cv")),
      struct(lit(1L).as("cell"),
        array(lit(0.0), sign, sign, lit(0.0)).as("cv")),
      struct(lit(2L).as("cell"),
        array(lit(0.0), lit(0.0), lit(0.0), lit(1.0)).as("cv")))
    val vec = array(lit(0.0), lit(1.0), lit(1.0), lit(0.0))
    val out = spark.range(0, 2000).repartition(4)
      .select(col("id"),
        VectorExprs.nearestCentroid(vec, cb).as("cell"))
    val expected = when(pmod(col("id"), lit(2)) === 0, lit(1L))
      .otherwise(lit(0L))
    val bad = out.filter(col("cell").isNull || col("cell") =!= expected)
    assert(bad.count() == 0,
      s"stale-memo assignments: ${bad.take(5).mkString(", ")}")
  }

  test("lsh_bucket expression == HOF lshBucket for both configs in use") {
    for (bits <- Seq(4, 8)) {
      val tables = explode(sequence(lit(0), lit(7))).as("tbl")
      val both = emb.select(col("vec_id"), col("vec"), tables)
        .withColumn("b_expr",
          VectorExprs.lshBucket(col("vec"), col("tbl"), bits))
        .withColumn("b_hof", Vectors.lshBucket(col("vec"), col("tbl"), 64, bits))
      assert(both.filter(col("b_expr") =!= col("b_hof")).count() == 0,
        s"bucket mismatch at bits=$bits")
    }
  }
}
