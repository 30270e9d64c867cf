package graft

import scala.util.Random
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison,
  CreateArray, ElementAt, EqualNullSafe, EqualTo, Expression, GreaterThan,
  GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.ExprColumn
import org.apache.spark.sql.ExprColumn.expression
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import graft.plans.ParamLiteral

/** [[graft.plans.ParamLiterals]]: filter constants become class
  * references. The contract tests follow NativeExprParitySpec: each runs
  * with whole-stage codegen (`CODEGEN_ONLY`) and interpreted
  * (`NO_CODEGEN`), and the interpreted `Literal` form is the
  * specification.
  */
class ParamLiteralSpec extends SparkSpec {

  private val typed: Seq[(DataType, Seq[Any])] = Seq(
    BooleanType -> Seq(true, false),
    ByteType -> Seq(Byte.MinValue, -1.toByte, 0.toByte, 7.toByte, Byte.MaxValue),
    ShortType -> Seq(Short.MinValue, -1.toShort, 0.toShort, 7.toShort, Short.MaxValue),
    IntegerType -> Seq(Int.MinValue, -1, 0, 42, Int.MaxValue),
    LongType -> Seq(Long.MinValue, -1L, 0L, 42L, Long.MaxValue),
    FloatType -> Seq(Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity,
      -0.0f, 0.0f, 1.5f, Float.MinPositiveValue, Float.MinValue, Float.MaxValue),
    DoubleType -> Seq(Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, -0.0, 0.0, 2.5, Double.MinPositiveValue,
      Double.MinValue, Double.MaxValue),
    // 0001-01-01, the epoch, 2000-01-01, 9999-12-31
    DateType -> Seq(-719162, 0, 10957, 2932896),
    // the Long range, 0001-01-01T00:00:00, the epoch, 9999-12-31T23:59:59.999999
    TimestampType -> Seq(Long.MinValue, -62135596800000000L, 0L,
      1700000000000000L, 253402300799999999L, Long.MaxValue),
    TimestampNTZType -> Seq(Long.MinValue, -62135596800000000L, 0L,
      1700000000000000L, 253402300799999999L, Long.MaxValue))

  private val comparisons: Seq[(Expression, Expression) => BinaryComparison] =
    Seq(EqualTo, EqualNullSafe, LessThan, LessThanOrEqual, GreaterThan,
      GreaterThanOrEqual)

  private def inMode[T](factory: String)(body: => T): T = {
    spark.conf.set("spark.sql.codegen.factoryMode", factory)
    spark.conf.set("spark.sql.codegen.wholeStage", factory == "CODEGEN_ONLY")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try body
    finally {
      spark.conf.unset("spark.sql.codegen.factoryMode")
      spark.conf.unset("spark.sql.codegen.wholeStage")
      spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  private def params(p: SparkPlan): Seq[ParamLiteral] =
    p.flatMap(_.expressions.flatMap(_.collect { case q: ParamLiteral => q }))

  test("ParamLiteral filters return the Literal form's rows, codegen and interpreted") {
    for ((t, values) <- typed) {
      // row i holds values(i); ElementAt's per-row index keeps the column
      // from being constant-folded
      val df = spark.range(values.size).select(col("id"), ExprColumn(ElementAt(
        CreateArray(values.map(Literal(_, t))),
        expression((col("id") + 1).cast("int")))).as("x"))
      var rewritten = 0
      for (v <- values; cmp <- comparisons) {
        def query() = df.filter(ExprColumn(cmp(expression(col("x")), Literal(v, t))))
          .select("id").queryExecution
        def rows(p: SparkPlan) = p.executeCollect().map(_.getLong(0)).toSeq.sorted
        val what = s"$t ${cmp(Literal(0), Literal(v, t)).nodeName} $v"
        // the specification: the same plan with its Literal, interpreted
        val want = inMode("NO_CODEGEN")(rows(query().executedPlan
          .transformAllExpressions { case ParamLiteral(pv, pt) => Literal(pv, pt) }))
        for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) inMode(mode) {
          val q = query()
          // the optimizer may drop the literal (`x = true` is `x`); every
          // one left under a filter comparison is rewritten
          val kept = q.sparkPlan.collect { case f: FilterExec =>
            f.condition.collect { case c: BinaryComparison =>
              c.children.collect { case l: Literal => ParamLiteral(l.value, l.dataType) }
            }.flatten
          }.flatten
          assert(params(q.executedPlan) == kept, s"$mode $what")
          assert(rows(q.executedPlan) == want, s"$mode $what")
          rewritten += kept.size
        }
      }
      assert(rewritten >= 2 * values.size, s"$t: $rewritten rewritten")
    }
  }

  test("ParamLiteral keeps the Literal's type, nullability, strings and equality") {
    for ((t, values) <- typed; a <- values) {
      val (p, l) = (ParamLiteral(a, t), Literal(a, t))
      assert(p.dataType == l.dataType && p.nullable == l.nullable, s"$t $a")
      assert(p.toString == l.toString && p.sql == l.sql, s"$t $a")
      for (b <- values) {
        // equal exactly when the Literals are: NaN equals NaN, and 0.0
        // equals -0.0, which every comparison treats as one value
        val same = l.semanticEquals(Literal(b, t))
        assert(p.semanticEquals(ParamLiteral(b, t)) == same, s"$t $a $b")
        assert(same == (a == b || a.toString == b.toString), s"$t $a $b")
      }
    }
  }

  test("stages filtered by different values never share an exchange") {
    val orders = Tables.load(spark, sf, "orders")
    def stage(key: Long) = orders.filter(col("o_custkey") > key)
      .groupBy("o_orderstatus").count()
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def reused(a: Long, b: Long) = stage(a).union(stage(b))
        .queryExecution.executedPlan.collect { case r: ReusedExchangeExec => r }
      assert(reused(10L, 20L).isEmpty)
      assert(reused(10L, 10L).size == 1)
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  test("BI statements with new literals compile no class after one warm statement") {
    BiTemplates.registerViews(spark, sf)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try {
      // each shape is warmed right before its run: Spark's compiled-class
      // cache holds 100 entries, a class takes one for the driver's class
      // loader and one for the tasks', and in a JVM that has run other
      // suites the five shapes together can overflow it
      val r = new Random(9)
      val (compiles, oneTaskSorts) = BiTemplates.templates.map { case (name, t) =>
        spark.sql(t(r)).collect()
        val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val sorted = (1 to 10).count { _ =>
          val df = spark.sql(t(r)); df.collect()
          BiTemplates.sortsInOnePartition(df)
        }
        (name -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0),
          name -> sorted)
      }.unzip
      assert(compiles.forall(_._2 == 0L), s"classes compiled: $compiles")
      // the zero covers the small-sort plan shape: the three templates
      // that sort materialized stages sort them in one partition on every
      // run (the lookup has no sort; the ledger's sort input reads files)
      assert(oneTaskSorts == Seq("revenue_by_region" -> 10, "segment_topk" -> 10,
        "point_lookup" -> 0, "lineitem_range_agg" -> 10, "catalog_ledger" -> 0),
        oneTaskSorts)

      // the lookup plans no exchange, so no adaptive stage ran the rule;
      // its scan still pushes the Literal comparison down
      val lookup = spark.sql(BiTemplates("point_lookup")(r)).queryExecution.executedPlan
      assert(params(lookup).nonEmpty, lookup.toString)
      val pushed = lookup.collect { case s: FileSourceScanExec =>
        s.metadata("PushedFilters") }
      assert(pushed.exists(_.contains("EqualTo(o_orderkey,")), pushed)
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }
}
