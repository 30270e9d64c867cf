package graft

/** One-off diagnostic for the MinHash 100× cost profile: splits the
  * dedup_minhash_lsh wall-clock into signature materialization, thin
  * band join (meetings, no verify payload), and the full verify query —
  * the numbers SCALE.md's minhash section cites.
  *
  * Run: `sbt "Test/runMain graft.MinhashProbe [dir]"`.
  */
object MinhashProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption
      .getOrElse(s"${Tables.scratchRoot}/scale100")
    val spark = GraftSession.local(extra = Map(
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "256"))
    spark.sparkContext.setLogLevel("WARN")
    def timed[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[probe] $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.2fs")
      r
    }
    val bf = operators.Dedup.minhashBandFrame(spark, dir)
    val nBand = timed("signatures+bands (count)")(bf.count())
    val maxBucket = timed("max bucket occupancy") {
      bf.groupBy("band_id", "bkey").count()
        .agg(org.apache.spark.sql.functions.max("count")).collect()(0)
        .getLong(0)
    }
    val meetings = timed("thin band join (meetings)")(
      operators.Dedup.minhashMeetings(spark, dir))
    val gated = timed("first-band gated meetings")(
      operators.Dedup.minhashMeetings(spark, dir, gated = true))
    spark.catalog.clearCache()
    val pairs = timed("full verify query") {
      SparkEntry.queries("dedup_minhash_lsh")(spark, dir).count()
    }
    println(s"[probe] band rows=$nBand maxBucket=$maxBucket " +
      s"meetings=$meetings gated=$gated pairs=$pairs")
    spark.stop()
  }
}
