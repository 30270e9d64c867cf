package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.operators.Pipeline

/** End-to-end medallion test over a bronze-shaped fixture (FIXTURES.md §1.1):
  * dynamic-width crawl JSON → silver 11-col schema with typed parsing →
  * date-partitioned write → gold features. Mirrors the reference pipeline
  * (app/sliver.py + realestate_pipeline.py) including its edge rows.
  */
class PipelineSpec extends SparkSpec {

  private val bronzeSchema = StructType(Seq(
    "list_id", "title", "price", "address",
    "Diện tích đất", "Chiều ngang", "Tổng số tầng", "Số phòng ngủ",
    "Số phòng vệ sinh", "Đặc điểm nhà/đất", "Hướng cửa chính",
    "Giấy tờ pháp lý", "Tình trạng nội thất").map(StructField(_, StringType)))

  private def bronzeFixture = spark.createDataFrame(
    java.util.Arrays.asList(
      Row("1", "Bán nhà Q1", "5,2 tỷ", "Quận 1, TP. Hồ Chí Minh",
        "80 m²", "4 m", "3", "4", "3", "Hẻm xe hơi", "Đông", "Đã có sổ",
        "Nội thất đầy đủ"),
      Row("2", "Bán đất", "500 triệu", "Hà Nội",
        "80,5 m²", null, "2.7", null, null, null, null, null, null),
      Row("3", "Nhà phố", "5200000000", "Đà Nẵng",
        "100", "5", "x", "3", "2", null, "Tây", null, null),
      Row("4", "Giá thỏa thuận", "thỏa thuận", "Cần Thơ",
        "60 m²", null, "1", "2", "1", null, null, null, null),   // price null -> dropped
      Row("5", "Thiếu diện tích", "2 tỷ", "Hải Phòng",
        "n/a", null, "1", "2", "1", null, null, null, null),     // area null -> dropped
      Row("3", "Nhà phố", "5200000000", "Đà Nẵng",                // exact dup of 3
        "100", "5", "x", "3", "2", null, "Tây", null, null)),
    bronzeSchema)

  test("bronze→silver applies rename + typed parsing + null-drop + dedup") {
    val silver = Pipeline.bronzeToSilver(bronzeFixture)
    assert(silver.columns.toSet == Set("Address", "Area", "Frontage",
      "Floors", "Bedrooms", "Bathrooms", "Price", "Access Road",
      "House Direction", "Legal Status", "Furniture State"))
    val rows = silver.orderBy("Address").collect()
    // 6 bronze rows: one dup removed, rows 4 (null price) and 5 (null area) dropped
    assert(rows.length == 3)
    val hcm = rows.find(_.getAs[String]("Address").contains("Hồ Chí Minh")).get
    assert(hcm.getAs[Double]("Area") == 80.0)
    assert(hcm.getAs[Double]("Frontage") == 4.0)
    assert(hcm.getAs[Int]("Floors") == 3)
    assert(hcm.getAs[Double]("Price") == 5.0) // "5,2 tỷ" -> 5.0 (quirk)
    val hn = rows.find(_.getAs[String]("Address") == "Hà Nội").get
    assert(hn.getAs[Double]("Area") == 805.0) // "80,5" comma stripped
    assert(hn.getAs[Int]("Floors") == 2)      // int(float("2.7")) truncates
    assert(hn.getAs[Double]("Price") == 0.5)  // 500 triệu
    val dn = rows.find(_.getAs[String]("Address") == "Đà Nẵng").get
    assert(dn.isNullAt(dn.fieldIndex("Floors"))) // "x" -> null
    assert(dn.getAs[Double]("Price") == 5.2)     // raw digits / 1e9
  }

  test("silver writes date-partitioned from crawl filename and prunes on read") {
    val out = "/root/repo/target/scratch/pipeline_silver"
    val silver = Pipeline.bronzeToSilver(bronzeFixture)
    Pipeline.writeSilverPartitioned(silver, "crawl_20251003_120000.json", out)
    val back = spark.read.parquet(out)
    assert(back.schema("date").dataType == DateType)
    val pruned = back.filter(col("date") === "2025-10-03")
    assert(pruned.count() == 3)
    val scan = pruned.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    assert(scan.metadata.getOrElse("PartitionFilters", "").contains("date"))
  }

  test("silver writes of two crawl dates into one directory both survive") {
    val out = s"${Tables.scratchRoot}/pipeline_silver_two_days"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
    val silver = Pipeline.bronzeToSilver(bronzeFixture)
    Pipeline.writeSilverPartitioned(silver, "crawl_20251003_120000.json", out)
    Pipeline.writeSilverPartitioned(silver.limit(1),
      "crawl_20251004_120000.json", out)
    def perDate = spark.read.parquet(out).groupBy("date").count()
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    assert(perDate == Map("2025-10-03" -> 3L, "2025-10-04" -> 1L))
    // rewriting a date replaces only that date
    Pipeline.writeSilverPartitioned(silver.limit(2),
      "crawl_20251003_130000.json", out)
    assert(perDate == Map("2025-10-03" -> 2L, "2025-10-04" -> 1L))
  }

  test("silver→gold derives location encoding and price_per_m2") {
    val gold = Pipeline.silverToGold(Pipeline.bronzeToSilver(bronzeFixture))
    val hcm = gold.filter(col("Address").contains("Hồ Chí Minh")).collect()(0)
    assert(hcm.getAs[Int]("location_encoded") == 2)
    assert(math.abs(hcm.getAs[Double]("price_per_m2") - 5.0 / 80.0) < 1e-12)
    val hn = gold.filter(col("Address") === "Hà Nội").collect()(0)
    assert(hn.getAs[Int]("location_encoded") == 1)
    // divide-by-zero pinned to null, not Infinity
    val zeroArea = Pipeline.silverToGold(
      Pipeline.bronzeToSilver(bronzeFixture)
        .withColumn("Area", lit(0.0)))
    assert(zeroArea.select("price_per_m2").collect().forall(_.isNullAt(0)))
  }

  test("quality audit/profile: one scan per base table, no extra passes") {
    // AQE hides FileSourceScanExec from executedPlan.collect — pin the
    // scan count on the non-adaptive physical plan
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def scans(name: String): Int = {
        val df = SparkEntry.queries(name)(spark, sf)
        df.queryExecution.executedPlan.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec => s
        }.size
      }
      // profiler: 5 column profiles from ONE orders scan
      assert(scans("quality_profile_columns") == 1)
      // audit: one orders scan for all row-local constraints + one
      // customer scan for the referential check
      assert(scans("quality_constraint_audit") == 2)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }
}
