package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.engine.{Analysis, Pipeline, Pipelines, Schemas}

/** §2.7 report queries + P12 conditional derive + the full layered
  * pipeline run, exercised on the vendored raw AQ fixture (the
  * reference's committed raws, re-derived from the staged golden). */
class AnalysisSpec extends SparkSpec {

  private lazy val aq = Pipelines.aqStage(spark, Fixtures.aqRaw).cache()

  private lazy val weather = Pipelines.weatherStage(spark,
    Fixtures.weatherRaw(Files.createTempDirectory("weather-raw").toString, days = 2))

  private def byKey(df: DataFrame): Seq[Row] =
    df.select(aq.columns.map(col).toIndexedSeq: _*).orderBy("city", "time").collect().toSeq

  test("summaryMetrics: three KPIs, argmax matches direct max") {
    val m = Analysis.summaryMetrics(aq).collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m.keySet == Set("city_highest_avg_pm2_5", "city_highest_severity", "hour_with_worst_avg_pm2_5"))
    // the committed raws give every city identical averages — the direct
    // query must apply the same deterministic tie-break as the operator
    val direct = aq.groupBy("city").agg(avg("pm2_5").as("m"))
      .orderBy(desc("m"), asc("city")).limit(1).collect()(0).getString(0)
    assert(m("city_highest_avg_pm2_5") == direct)
  }

  test("cityRiskDistribution: totals add up and percentages sum to 100") {
    val rows = Analysis.cityRiskDistribution(aq).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val (h, mo, lo) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(h + mo + lo == r.getLong(4))
      assert(math.abs(r.getDouble(5) + r.getDouble(6) + r.getDouble(7) - 100.0) < 1e-9)
    }
  }

  test("histogram: bin counts cover all non-null values, bins in range") {
    val h = Analysis.histogram(aq, col("pm2_5"), 40).collect()
    assert(h.map(_.getLong(1)).sum == aq.where(col("pm2_5").isNotNull).count())
    assert(h.forall(r => r.getInt(0) >= 0 && r.getInt(0) <= 39))
  }

  test("ensureDerived recomputes severity/risk/aqi only when missing or all-null") {
    val stripped = aq.drop("severity", "risk_class", "aqi_pm25")
    val derived = Analysis.ensureDerived(stripped)
    assert(derived.schema.fieldNames.count(Set("severity", "risk_class", "aqi_pm25")) == 3)
    // schema untouched when the columns already carry values
    val kept = Analysis.ensureDerived(aq)
    assert(kept.schema.fieldNames.toSeq == aq.schema.fieldNames.toSeq)
    // recomputed severity equals the pipeline-staged one row-for-row
    val mismatches = derived.select(col("city"), col("time"), col("severity").as("s1"))
      .join(aq.select(col("city"), col("time"), col("severity").as("s2")), Seq("city", "time"))
      .where(abs(col("s1") - col("s2")) > 1e-9)
      .count()
    assert(mismatches == 0)
    // one derived column all-null, the others populated: only that
    // column is re-derived, and it comes back equal to the staged one
    val nullRisk = Analysis.ensureDerived(aq.withColumn("risk_class", lit(null).cast("string")))
    assert(byKey(nullRisk) == byKey(aq))
    // severity all-null next to a populated (sentinel) risk_class: the
    // one-probe form must not re-derive risk_class from the new severity
    val nullSev = Analysis.ensureDerived(aq
      .withColumn("severity", lit(null).cast("double"))
      .withColumn("risk_class", lit("sentinel")))
    assert(byKey(nullSev) == byKey(aq.withColumn("risk_class", lit("sentinel"))))
    // the probe is one aggregate: it costs exactly the jobs of a single
    // agg(count) over the same (uncached, JSON-parsing) frame
    val fresh = Pipelines.aqStage(spark, Fixtures.aqRaw)
    val (_, probeJobs) = countingJobs(Analysis.ensureDerived(fresh))
    val (_, controlJobs) = countingJobs(fresh.agg(count(col("severity"))).head())
    assert(controlJobs > 0 && probeJobs == controlJobs,
      s"ensureDerived ran $probeJobs jobs, one agg(count) runs $controlJobs")
  }

  test("topCitiesHourlyPm25 keeps at most k cities") {
    val t = Analysis.topCitiesHourlyPm25(aq, k = 3)
    assert(t.select("city").distinct().count() <= 3)
  }

  test("sorted reports collect the same rows in the same order as the retired orderBy-only forms") {
    val avgs: Seq[Column] = Schemas.pollutants.filter(_ != "uv_index").map(c => avg(col(c)).as(c))
    // CONTROLS: each report as it was before the single-partition sort
    val riskControl = aq.groupBy(col("city"))
      .pivot("risk_class", Seq("High Risk", "Moderate Risk", "Low Risk"))
      .count().na.fill(0)
      .withColumn("total_hours", col("High Risk") + col("Moderate Risk") + col("Low Risk"))
      .withColumn("pct_high", col("High Risk") / col("total_hours") * 100)
      .withColumn("pct_moderate", col("Moderate Risk") / col("total_hours") * 100)
      .withColumn("pct_low", col("Low Risk") / col("total_hours") * 100)
      .orderBy(col("city"))
    val trendsControl = aq.groupBy(col("city"), col("time"))
      .agg(avgs.head, avgs.tail: _*)
      .orderBy(col("city"), col("time"))
    val v = aq.select(col("pm2_5").as("v")).where(col("v").isNotNull)
    val histControl = v.crossJoin(broadcast(v.agg(min(col("v")).as("mn"), max(col("v")).as("mx"))))
      .withColumn("bin", when(col("mx") === col("mn"), lit(0)).otherwise(least(
        floor((col("v") - col("mn")) / ((col("mx") - col("mn")) / 40.0)),
        lit(39.0))).cast("int"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n"))
      .orderBy(col("bin"))
    val top = aq.groupBy(col("city")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("city").asc).limit(6).select(col("city"))
    val hourlyControl = aq.join(broadcast(top), Seq("city"), "left_semi")
      .groupBy(col("city"), window(col("time"), "1 hour").as("w"))
      .agg(avg(col("pm2_5")).as("avg_pm2_5"))
      .select(col("city"), col("w.start").as("hour_start"), col("avg_pm2_5"))
      .orderBy(col("city"), col("hour_start"))
    val tempControl = weather.groupBy(col("date"), col("hour"))
      .agg(avg(col("temperature_c")).as("avg_temperature_c"))
      .orderBy(col("date"), col("hour"))
    Seq(
      ("cityRiskDistribution", Analysis.cityRiskDistribution(aq), riskControl, 5),
      ("pollutionTrends", Analysis.pollutionTrends(aq), trendsControl, 545),
      ("histogram", Analysis.histogram(aq, col("pm2_5"), 40), histControl, 2),
      ("topCitiesHourlyPm25", Analysis.topCitiesHourlyPm25(aq), hourlyControl, 545),
      ("hourlyAvgTemp", Analysis.hourlyAvgTemp(weather), tempControl, 48)
    ).foreach { case (name, report, control, minRows) =>
      val got = report.collect().toSeq
      assert(got.size >= minRows, s"$name: the fixture must exercise the sort")
      assert(got == control.collect().toSeq, s"$name rows or their order changed")
    }
  }

  test("full layered pipelines run end-to-end into temp dirs") {
    val out = Files.createTempDirectory("pipe").toString
    Pipeline.runWeather(spark,
      Fixtures.weatherRaw(Files.createTempDirectory("weather-raw").toString, days = 4), s"$out/w")
    Pipeline.runAq(spark, Fixtures.aqRaw, s"$out/aq")
    assert(spark.read.parquet(s"$out/w/staged/weather").count() == 96)
    assert(spark.read.parquet(s"$out/aq/staged/air_quality").count() == 545)
    val rep = spark.read.option("header", true).csv(s"$out/aq/processed/summary_metrics")
    assert(rep.count() == 3)
    // rerun is idempotent thanks to the upsert merge
    Pipeline.runAq(spark, Fixtures.aqRaw, s"$out/aq")
    assert(spark.read.parquet(s"$out/aq/staged/air_quality").count() == 545)
  }

  test("runAq twice over the fixture: byte-identical report CSVs and the same store") {
    val runs = Seq.fill(2) {
      val out = Files.createTempDirectory("pipe-aq").toString
      Pipeline.runAq(spark, Fixtures.aqRaw, out)
      out
    }
    def reports(out: String): Map[String, Seq[Byte]] = {
      val processed = Paths.get(out, "processed")
      Files.walk(processed).iterator().asScala.filter(_.toString.endsWith(".csv"))
        .map(f => processed.relativize(f.getParent).toString ->
          Files.readAllBytes(f).toSeq).toMap
    }
    val (a, b) = (reports(runs(0)), reports(runs(1)))
    assert(a.keySet == Set("summary_metrics", "city_risk_distribution", "pollution_trends",
      "hist_pm2_5", "hourly_pm2_5_trends"), "one CSV per report")
    a.foreach { case (name, bytes) => assert(bytes == b(name), s"$name CSV differs between runs") }
    def store(out: String) = byKey(spark.read.parquet(s"$out/staged/air_quality"))
    assert(store(runs(0)) == store(runs(1)))
    assert(store(runs(0)) == byKey(aq))
  }
}
