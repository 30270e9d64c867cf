package graft

import java.nio.file.{Files, Paths}
import graft.sources.Ingest

/** S8 fallback reader: JSON parses as JSON, CSV-shaped input falls back
  * to the header-CSV reader (reference realestate_pipeline.py:127-138).
  */
class IngestSpec extends SparkSpec {

  private def write(name: String, content: String): String = {
    val dir = Paths.get(s"${Tables.scratchRoot}/ingest")
    Files.createDirectories(dir)
    val p = dir.resolve(name)
    Files.writeString(p, content)
    p.toString
  }

  test("multiLine JSON array parses via the JSON path") {
    val p = write("ok.json",
      """[{"id": 1, "name": "a"}, {"id": 2, "name": "b"}]""")
    val df = Ingest.readJsonWithCsvFallback(spark, p)
    assert(df.columns.toSet == Set("id", "name"))
    assert(df.count() == 2)
  }

  test("CSV input falls back to the header-CSV reader") {
    val p = write("data.csv", "id,name\n1,a\n2,b\n")
    val df = Ingest.readJsonWithCsvFallback(spark, p)
    assert(df.columns.toSet == Set("id", "name"))
    assert(df.count() == 2)
  }

  test("PERMISSIVE nulls corrupt JSON lines; FAILFAST fails the job") {
    val p = write("mixed.jsonl",
      """{"id": 1, "name": "a"}
        |{bad line
        |{"id": 2, "name": "b"}
        |""".stripMargin)
    val permissive = spark.read.schema("id LONG, name STRING").json(p)
    assert(permissive.count() == 3)
    assert(permissive.filter(org.apache.spark.sql.functions.col("name").isNull)
      .count() == 1)
    val failfast = spark.read.schema("id LONG, name STRING")
      .option("mode", "FAILFAST").json(p)
    intercept[org.apache.spark.SparkException] { failfast.collect() }
  }
}
