package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import graft.functions.Cleaning

/** The reference's literal medallion pipeline as a reusable API: bronze
  * (dynamic-width crawl JSON) → silver (fixed 11-column schema, Vietnamese
  * labels renamed + typed parsing, date-partitioned parquet) → gold
  * (feature engineering).
  *
  * Silver projection mirrors `/root/reference/app/sliver.py:143-155` with
  * the DECLARED parsers applied (`app/sliver.py:86-89` registers them but
  * never calls them — we implement the intent); the partitioned write +
  * filename-date mirrors `app/sliver.py:161-173`; gold mirrors
  * `airflow/dags/realestate_pipeline.py:175-187`.
  *
  * Scale: every step is a narrow per-row projection (whole-stage codegen,
  * zero shuffles) except dropDuplicates — one hash-exchange — and the
  * partitioned write, which shuffles by the date key so each partition
  * writes one directory.
  */
object Pipeline {

  /** Expected bronze→silver column mapping (Vietnamese label → (silver
    * name, parser)). Missing labels are reconciled to typed nulls (P7 —
    * the reference crashes on a truly absent column; we implement the
    * intent, SURVEY §2.2).
    */
  private val stringCols = Seq(
    "address" -> "Address",
    "Đặc điểm nhà/đất" -> "Access Road",
    "Hướng cửa chính" -> "House Direction",
    "Giấy tờ pháp lý" -> "Legal Status",
    "Tình trạng nội thất" -> "Furniture State")

  /** Silver transform: rename-projection (P1/F4) + typed parsing (F1–F3)
    * + null-drop on price/area (P2) + full-row dedup (P3).
    */
  def bronzeToSilver(bronze: DataFrame): DataFrame = {
    def c(name: String) =
      if (bronze.columns.contains(name)) col(s"`$name`")
      else lit(null).cast("string")
    bronze.select(
      Seq(
        c("address").as("Address"),
        Cleaning.parseArea(c("Diện tích đất")).as("Area"),
        Cleaning.parseArea(c("Chiều ngang")).as("Frontage"),
        Cleaning.parseNumber(c("Tổng số tầng")).as("Floors"),
        Cleaning.parseNumber(c("Số phòng ngủ")).as("Bedrooms"),
        Cleaning.parseNumber(c("Số phòng vệ sinh")).as("Bathrooms"),
        Cleaning.normalizePrice(c("price")).as("Price")) ++
        stringCols.drop(1).map { case (vn, en) => c(vn).as(en) }: _*)
      .na.drop(Seq("Price", "Area"))
      .dropDuplicates()
  }

  /** F5: `crawl_YYYYMMDD_HHMMSS*` filename → DateType partition value
    * (reference app/sliver.py:161-164). */
  def dateFromFilename(fname: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    to_date(regexp_extract(fname, "crawl_([0-9]{8})_", 1), "yyyyMMdd")

  /** S11: silver written Hive-partitioned by crawl date. Dynamic
    * partition overwrite: a write replaces only the date partitions it
    * carries, so daily runs into one directory append a new date and a
    * re-run of a date replaces just that date (static mode would wipe
    * every other date first). */
  def writeSilverPartitioned(silver: DataFrame, sourceFile: String,
      outDir: String): Unit =
    silver
      .withColumn("date", dateFromFilename(lit(sourceFile)))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("date").parquet(outDir)

  /** Gold features (P5 CASE WHEN encoding + P6 derived ratio with pinned
    * divide-by-zero, reference realestate_pipeline.py:175-183). */
  def silverToGold(silver: DataFrame): DataFrame =
    silver
      .withColumn("location_encoded",
        when(col("Address").contains("Hồ Chí Minh"), 2)
          .when(col("Address").contains("Hà Nội"), 1)
          .otherwise(0))
      .withColumn("price_per_m2",
        col("Price") / nullif(col("Area"), lit(0.0)))
}
