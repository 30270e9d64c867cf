package graft

import java.nio.file.{Files, Paths}

/** Pins Verify's loud-failure contract: a query that throws must leave an
  * explicit `_ERROR.txt` marker in its output slot, so the driver's
  * correctness compare reports an `err` row instead of silently omitting
  * the query (how round 7's five streaming regressions went invisible).
  */
class VerifySpec extends SparkSpec {

  private val out = s"${Tables.scratchRoot}/verify_spec"

  test("a throwing query writes an _ERROR.txt marker, not nothing") {
    val ok = Verify.dumpOne(spark, sf, out, "boom",
      (_, _) => throw new RuntimeException("deliberate"))
    assert(!ok)
    val marker = Paths.get(s"$out/boom/_ERROR.txt")
    assert(Files.exists(marker), "missing error marker")
    val txt = Files.readString(marker)
    assert(txt.contains("boom failed") && txt.contains("deliberate"))
  }

  test("a query that fails mid-write still ends with a marker in place") {
    // analysis passes, execution throws — the partial parquet dir plus
    // the marker must make any subsequent read error, never parse clean
    val ok = Verify.dumpOne(spark, sf, out, "midwrite",
      (s, _) => {
        import s.implicits._
        Seq(1, 0).toDF("d")
          .select(org.apache.spark.sql.functions.expr("assert_true(d > 0)"))
      })
    assert(!ok)
    assert(Files.exists(Paths.get(s"$out/midwrite/_ERROR.txt")))
  }

  test("a healthy query writes readable parquet and no marker") {
    val ok = Verify.dumpOne(spark, sf, out, "fine",
      (s, dir) => Tables.load(s, dir, "region"))
    assert(ok)
    assert(!Files.exists(Paths.get(s"$out/fine/_ERROR.txt")))
    assert(spark.read.parquet(s"$out/fine").count() == 5)
  }

  test("Json.str round-trips quotes, backslashes and control characters") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    for (s <- Seq("say \"hi\"", "C:\\tmp", "a\tb", "line\r\nnext",
        "bell\u0001", "all \" \\ \t \r \u0001 \u001f end", ""))
      assert(mapper.readTree(Json.str(s)).asText() == s,
        s"${Json.str(s)} does not parse back to its input")
  }
}
