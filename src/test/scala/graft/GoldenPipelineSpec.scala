package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.engine.{Pipelines, Schemas}

/** Golden end-to-end tests (SURVEY.md §5): run our transform pipelines on
  * vendored raw JSON and diff against staged CSVs — the de-facto
  * correctness corpus (the reference ships no tests; its data IS the
  * spec). Both goldens read only files under src/test/resources.
  */
class GoldenPipelineSpec extends SparkSpec {

  private def rows(df: DataFrame, sortCols: String*): Seq[Row] =
    df.orderBy(sortCols.map(col): _*).collect().toSeq

  /** Exact on non-floating fields; 1e-9-relative on doubles (pandas and
    * the JVM agree bit-for-bit on these pipelines in practice, but the
    * goldens were serialized through Python's repr). */
  private def assertRowsEqual(got: Seq[Row], want: Seq[Row], ctx: String): Unit = {
    assert(got.size == want.size, s"$ctx: ${got.size} rows != ${want.size}")
    got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
      assert(g.size == w.size, s"$ctx row $i arity")
      (0 until g.size).foreach { j =>
        (g.get(j), w.get(j)) match {
          case (a: Double, b: Double) =>
            assert(math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b)),
              s"$ctx row $i col $j: $a != $b")
          case (a, b) =>
            assert(a == b || (a == null && b == null), s"$ctx row $i col $j: $a != $b")
        }
      }
    }
  }

  // ---- weather: a hand-checked raw file and its staged rows ----

  // The expected CSV is computed by hand from the FIXTURES.md A1/A4
  // semantics, not by this engine: right-closed tempCategory bins
  // (0 -> very_cold, 10 -> cold, 20 -> mild, 30 -> warm, 30.5 -> hot),
  // feels_like = t - rh/100 * 2, a null temperature leaving both derived
  // columns null, and the all-null 06:00 hour dropped by na.drop("all").
  test("weather golden: hand-checked fixture -> staged rows (bin edges, nulls, all-null hour)") {
    val got = rows(Pipelines.weatherStage(spark,
      "src/test/resources/weather_raw/weather_20251211_000000.json"), "time")
    val want = rows(spark.read.option("header", true).schema(Schemas.weatherStaged)
      .csv("src/test/resources/golden/weather_staged_20251211_000000.csv"), "time")
    assertRowsEqual(got, want, "weather")
  }

  // ---- air quality: all committed raw files -> the committed staged CSV ----

  // The reference repo's committed staged CSV is NOT reproducible from its
  // committed raw files (it averaged extra raw snapshots that were never
  // committed — e.g. bengaluru 00:00 pm10 is 34.98 staged vs 30.4 in the
  // only committed raw). The golden here is therefore the output of the
  // REFERENCE'S OWN transform.py run over the committed raws (generated
  // dev-time, checked into test resources): same code, reproducible input.
  // The raw side is the vendored fixture tools/gen_aq_fixture.py derives
  // from that golden (Fixtures.aqRaw), so this test is a round trip:
  // golden -> raw hourly arrays -> aqStage -> golden. It pins the
  // flatten, filename-city, cast and derive path, not the reference's
  // own raw bytes.
  test("aq golden: 5 raw city files -> reference-transform output (545 rows)") {
    val stagedPath = "src/test/resources/golden/aq_staged_from_committed_raw.csv"
    val got = rows(Pipelines.aqStage(spark, Fixtures.aqRaw), "city", "time")
    // staged time serialized as "YYYY-MM-DD HH:MM:SS+00:00" -> parse via cast
    val asStr = Schemas.aqStaged.fields.map(f =>
      if (f.name == "time") "time STRING" else s"`${f.name}` ${f.dataType.simpleString}").mkString(", ")
    val want = rows(
      spark.read.option("header", true).schema(asStr).csv(stagedPath)
        .withColumn("time", to_timestamp(col("time"))),
      "city", "time")
    assertRowsEqual(got, want, "air_quality")
  }

  test("aq hourly stage handles empty input with stable schema") {
    val out = Pipelines.aqStage(spark, "/tmp/definitely-missing-dir-xyz/*.json")
    assert(out.schema.fieldNames.toSeq == Schemas.aqStaged.fieldNames.toSeq)
    assert(out.count() == 0)
  }

  // ---- measurement-list shape (no committed example; FIXTURES.md A3) ----

  test("aq measurement-list shape: unnest + normalize + pivot") {
    val dir = Files.createTempDirectory("aq_ml").toFile
    val json =
      """{"results": [{
        |  "city": "Delhi",
        |  "parameters": [
        |    {"parameter": "pm25", "lastValue": 105.2, "lastUpdated": {"utc": "2025-12-11T00:00:00Z"}},
        |    {"parameter": "pm25", "lastValue": 106.8, "lastUpdated": {"utc": "2025-12-11T00:00:00Z"}},
        |    {"parameter": "no2", "lastValue": 40.0, "lastUpdated": {"utc": "2025-12-11T00:00:00Z"}},
        |    {"parameter": "banana", "lastValue": 1.0, "lastUpdated": {"utc": "2025-12-11T00:00:00Z"}}
        |  ]}]}""".stripMargin
    Files.writeString(Paths.get(dir.toString, "delhi_raw_1.json"), json)
    val out = Pipelines.aqStageMeasurements(spark, s"$dir/*.json").collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getAs[String]("city") == "Delhi")
    assert(math.abs(r.getAs[Double]("pm2_5") - 106.0) < 1e-12)  // mean of dup pm25
    assert(math.abs(r.getAs[Double]("nitrogen_dioxide") - 40.0) < 1e-12)
    assert(r.isNullAt(r.fieldIndex("pm10")))                    // missing pivot col present as null
    assert(r.getAs[String]("aqi_pm25") == "Unhealthy")
    assert(math.abs(r.getAs[Double]("severity") - (106.0 * 5.0 + 40.0 * 4.0)) < 1e-9)
    assert(r.getAs[String]("risk_class") == "High Risk")
  }
}
