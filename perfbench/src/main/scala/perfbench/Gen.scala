package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.collection.immutable.ListMap
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a pure function of (seed, row
  * id), so the same seed gives byte-identical inputs on any partitioning.
  * Nothing here reads outside the benchmark's own work directory. */
object Gen {

  // ---------------------------------------------------------------- tables

  /** A uniform double in [0, 1) from (seed, salt, row id). */
  private def u(seed: Long, salt: Int, id: Column = col("id")): Column =
    pmod(xxhash64(lit(seed), lit(salt), id), lit(1L << 53)).cast("double") /
      (1L << 53).toDouble

  private def pick(xs: Seq[String], r: Column): Column =
    element_at(array(xs.map(lit): _*), (r * xs.size).cast("int") + 1)

  private def ts(start: String, spanDays: Double, r: Column): Column =
    timestamp_seconds(unix_timestamp(lit(start)) + (r * spanDays * 86400).cast("long"))

  private val vocab = Seq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")

  /** TPC-H-like star schema plus events, documents and embeddings, in
    * the layout `graft.Tables` reads: one parquet file per table named
    * `<dir>/<table>.parquet`. Row counts scale with `sf` the way the
    * engine's test data does (lineitem = 6M × sf). */
  def tables(spark: SparkSession, dir: String, sf: Double, seed: Long): Unit = {
    def n(base: Double) = math.max(1L, math.round(base * sf))
    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrd = n(1500000); val nLine = n(6000000); val nEv = n(1000000)
    val nDoc = n(50000); val nEmb = n(20000); val nUser = n(15000)
    def r(salt: Int) = u(seed, salt)
    def range(k: Long) = spark.range(0, k, 1, 4).toDF()

    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    val out = Seq[(String, DataFrame)](
      "region" -> range(5).select(col("id").cast("int").as("r_regionkey"),
        pick(regions, col("id") / 5.0).as("r_name")),
      "nation" -> range(25).select(col("id").cast("int").as("n_nationkey"),
        concat(lit("NATION_"), col("id")).as("n_name"),
        (col("id") % 5).cast("int").as("n_regionkey")),
      "customer" -> range(nCust).select(col("id").as("c_custkey"),
        format_string("Customer#%09d", col("id")).as("c_name"),
        (r(1) * 25).cast("int").as("c_nationkey"),
        round(r(2) * 11000 - 999.99, 2).as("c_acctbal"),
        pick(Seq("FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING",
          "HOUSEHOLD"), r(3)).as("c_mktsegment")),
      "supplier" -> range(nSupp).select(col("id").as("s_suppkey"),
        format_string("Supplier#%09d", col("id")).as("s_name"),
        (r(4) * 25).cast("int").as("s_nationkey"),
        round(r(5) * 11000 - 999.99, 2).as("s_acctbal")),
      "part" -> range(nPart).select(col("id").as("p_partkey"),
        concat_ws(" ",
          pick(Seq("large", "hot", "blue", "old", "cold", "red", "new", "small"), r(6)),
          pick(Seq("ring", "bolt", "plate", "gear", "anvil", "gizmo", "rod", "widget"), r(7)))
          .as("p_name"),
        concat(lit("Brand#"), (r(8) * 25).cast("int") + 1).as("p_brand"),
        pick(Seq("LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"), r(9))
          .as("p_type"),
        ((r(10) * 50).cast("int") + 1).as("p_size"),
        round(lit(900.0) + (col("id") % 1000) / 10.0, 1).as("p_retailprice")),
      "orders" -> range(nOrd).select(col("id").as("o_orderkey"),
        (r(11) * nCust).cast("long").as("o_custkey"),
        pick(Seq("O", "F", "P"), r(12)).as("o_orderstatus"),
        round(r(13) * 499000 + 1000, 2).as("o_totalprice"),
        ts("1995-01-01 00:00:00", 2404, floor(r(14) * 2404) / 2404).as("o_orderdate"),
        pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), r(15))
          .as("o_orderpriority")),
      "lineitem" -> range(nLine).select(
        (r(16) * nOrd).cast("long").as("l_orderkey"),
        (r(17) * nPart).cast("long").as("l_partkey"),
        (r(18) * nSupp).cast("long").as("l_suppkey"),
        ((r(19) * 7).cast("int") + 1).as("l_linenumber"),
        ((r(20) * 50).cast("int") + 1).cast("double").as("l_quantity"),
        round(r(21) * 104100 + 900, 2).as("l_extendedprice"),
        ((r(22) * 11).cast("int") / 100.0).as("l_discount"),
        ((r(23) * 9).cast("int") / 100.0).as("l_tax"),
        pick(Seq("N", "A", "R"), r(24)).as("l_returnflag"),
        pick(Seq("O", "F"), r(25)).as("l_linestatus"),
        ts("1995-01-02 00:00:00", 2498, floor(r(26) * 2498) / 2498).as("l_shipdate")),
      "events" -> range(nEv).select(col("id").as("event_id"),
        (unix_micros(lit("2024-01-01 00:00:00").cast("timestamp")) +
          ((col("id") + r(27)) * (30.0 * 86400e6 / nEv)).cast("long"))
          .as("us"),
        (r(28) * nUser).cast("long").as("user_id"),
        pick(Seq("signup", "purchase", "view", "click", "error"), r(29)).as("event_type"),
        round(-log(lit(1.0) - r(30)) * 50, 2).as("value"),
        format_string("{\"k\": %d}", (r(31) * 100).cast("int")).as("props"))
        .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props")),
      "documents" -> documents(range(nDoc), seed, nDoc),
      "embeddings" -> range(nEmb).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)), i =>
          // Box–Muller: a standard normal per coordinate
          sqrt(lit(-2.0) * log(lit(1.0) - u(seed, 40, col("id") * 64 + i))) *
            cos(lit(2 * math.Pi) * u(seed, 41, col("id") * 64 + i))).as("g"),
        (r(42) * 10).cast("int").as("label"))
        .select(col("vec_id"),
          transform(col("g"), x => (x / sqrt(aggregate(col("g"), lit(0.0),
            (a, y) => a + y * y)))).cast("array<float>").as("embedding"),
          col("label")))

    Files.createDirectories(Path.of(dir))
    for ((name, df) <- out) {
      val tmp = s"$dir/.tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = Files.list(Path.of(tmp)).toArray.map(_.asInstanceOf[Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, Path.of(s"$dir/$name.parquet"))
      Util.rm(Path.of(tmp))
    }
  }

  /** 10–100 words from a 30-word vocabulary; one document in twenty is a
    * near duplicate: another document's text plus the word "dup". */
  private def documents(ids: DataFrame, seed: Long, nDoc: Long): DataFrame = {
    def text(id: Column): Column = {
      val words = (u(seed, 50, id) * 91).cast("int") + 10
      array_join(transform(sequence(lit(1), words), i =>
        element_at(array(vocab.map(lit): _*),
          (u(seed, 51, id * 128 + i) * vocab.size).cast("int") + 1)), " ")
    }
    val isDup = col("id") % 20 === 11
    val src = (u(seed, 52) * nDoc).cast("long")
    val langs = Seq("en", "en", "en", "en", "en", "en", "en", "en", "zh",
      "zh", "zh", "es", "es", "es", "fr", "fr", "fr", "de", "de", "de")
    ids.select(col("id").as("doc_id"),
      when(isDup, concat(text(src), lit(" dup"))).otherwise(text(col("id"))).as("text"),
      pick(langs, u(seed, 53)).as("lang"),
      concat(lit("src"), col("id") % 20).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  // ----------------------------------------------------------- crawl batch

  /** What the DAG must produce from a crawl batch. */
  final case class Manifest(date: String, files: Seq[String], listings: Int,
      silverRows: Long, locationHist: Map[Int, Long], bronzeBytes: Long)

  private val optionalKeys = Seq("Chiều ngang", "Đặc điểm nhà/đất",
    "Hướng cửa chính", "Tổng số tầng", "Số phòng ngủ", "Số phòng vệ sinh",
    "Giấy tờ pháp lý", "Tình trạng nội thất")

  /** A bronze crawl batch: `files` multiLine-JSON files
    * `crawl_<date>_<hhmmss>.json` that share one crawl date and hold
    * `listings` distinct listings plus exact duplicates (1 in 10 rows).
    * Fixed shares: price in tỷ with and without a comma decimal, triệu,
    * raw digits, garbage and blank (1 in 6 unparseable); area with a
    * comma decimal, blank or garbage (1 in 10 unparseable); 1 in 6
    * listings lacks some Vietnamese-label keys; addresses are 40 % Hồ
    * Chí Minh, 30 % Hà Nội, 30 % elsewhere. Every distinct listing has a
    * distinct address, so the silver dedup keeps exactly the distinct
    * parseable listings, which the manifest counts. */
  def crawlBatch(dir: Path, seed: Long, listings: Int, files: Int,
      date: String): Manifest = {
    val rnd = new scala.util.Random(seed)
    Files.createDirectories(dir)
    val cities = Seq("Đà Nẵng", "Cần Thơ", "Hải Phòng", "Bình Dương")
    val directions = Seq("Đông", "Tây", "Nam", "Bắc", "Đông Nam", "Tây Bắc")
    var kept = 0L
    val hist = scala.collection.mutable.Map(0 -> 0L, 1 -> 0L, 2 -> 0L)
    val base = (0 until listings).map { i =>
      val (addr, loc) = rnd.nextInt(10) match {
        case k if k < 4 => (s"Số $i đường ${rnd.nextInt(200)}, Quận ${rnd.nextInt(12) + 1}, TP. Hồ Chí Minh", 2)
        case k if k < 7 => (s"Số $i phố ${rnd.nextInt(200)}, Quận Ba Đình, Hà Nội", 1)
        case _ => (s"Số $i đường ${rnd.nextInt(200)}, ${cities(rnd.nextInt(cities.size))}", 0)
      }
      val (price, priceOk) = rnd.nextInt(12) match {
        case 0 | 1 | 2 => (s"${rnd.nextInt(20) + 1},${rnd.nextInt(10)} tỷ", true)
        case 3 | 4 => (s"${rnd.nextInt(30) + 1} tỷ", true)
        case 5 | 6 => (s"${rnd.nextInt(900) + 100} triệu", true)
        case 7 | 8 | 9 => ((1000000000L + rnd.nextInt(900000000) * 10L).toString, true)
        case 10 => (if (rnd.nextBoolean()) "Thỏa thuận" else "Liên hệ", false)
        case _ => ("", false)
      }
      val (area, areaOk) = rnd.nextInt(20) match {
        case k if k < 16 => (s"${rnd.nextInt(300) + 20} m²", true)
        case 16 | 17 => (s"${rnd.nextInt(300) + 20},${rnd.nextInt(10)} m²", true)
        case 18 => ("", false)
        case _ => ("không rõ", false)
      }
      if (priceOk && areaOk) { kept += 1; hist(loc) += 1 }
      val fields = Seq(
        "list_id" -> (100000000L * (seed % 1000) + i).toString,
        "title" -> s"Bán nhà $i",
        "price" -> price,
        "address" -> addr,
        "Diện tích đất" -> area,
        "Chiều ngang" -> s"${rnd.nextInt(10) + 3},${rnd.nextInt(10)} m",
        "Đặc điểm nhà/đất" -> (if (rnd.nextBoolean()) "Hẻm xe hơi" else "Mặt tiền"),
        "Hướng cửa chính" -> directions(rnd.nextInt(directions.size)),
        "Tổng số tầng" -> (rnd.nextInt(6) + 1).toString,
        "Số phòng ngủ" -> (rnd.nextInt(6) + 1).toString,
        "Số phòng vệ sinh" -> (rnd.nextInt(5) + 1).toString,
        "Giấy tờ pháp lý" -> (if (rnd.nextBoolean()) "Đã có sổ" else "Đang chờ sổ"),
        "Tình trạng nội thất" -> (if (rnd.nextBoolean()) "Nội thất đầy đủ" else "Bàn giao thô"))
      val dropped =
        if (rnd.nextInt(6) == 0) rnd.shuffle(optionalKeys).take(rnd.nextInt(4) + 1).toSet
        else Set.empty[String]
      val images = (0 until rnd.nextInt(4)).map(k => s"https://img.example/$i/$k.jpg")
      Util.json.writeValueAsString(
        ListMap(fields.filterNot(f => dropped(f._1)) :+ ("images" -> images): _*))
    }
    // exact duplicates, each placed in a different file than its original
    val dups = (0 until listings / 9).map(_ => rnd.nextInt(listings))
    val rows = base.zipWithIndex.map { case (j, i) => (i % files, j) } ++
      dups.map(i => ((i + 1 + rnd.nextInt(files - 1)) % files, base(i)))
    val names = (0 until files).map(f =>
      f"crawl_${date.replace("-", "")}_${(f * 7 + 1) % 24}%02d${(f * 13) % 60}%02d${f % 60}%02d.json")
    var bytes = 0L
    for ((name, f) <- names.zipWithIndex) {
      val body = rows.filter(_._1 == f).map("  " + _._2).mkString("[\n", ",\n", "\n]\n")
      val b = body.getBytes(UTF_8)
      bytes += b.length
      Files.write(dir.resolve(name), b)
    }
    Manifest(date, names, base.size + dups.size, kept, hist.toMap, bytes)
  }
}

object Util {
  /** Jackson (shipped with Spark) for every JSON the harness reads or writes. */
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def rm(p: Path): Unit = {
    val f = p.toFile
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(c => rm(c.toPath))
    f.delete(); ()
  }

  /** Bytes and data files under a directory. */
  def du(p: Path): (Long, Int) = {
    val f = p.toFile
    if (f.isDirectory)
      Option(f.listFiles).toSeq.flatten.map(c => du(c.toPath))
        .foldLeft((0L, 0)) { case ((a, b), (c, d)) => (a + c, b + d) }
    else if (f.getName.startsWith(".") || f.getName.startsWith("_")) (0L, 0)
    else (f.length, 1)
  }
}
