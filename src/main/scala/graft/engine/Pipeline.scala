package graft.engine

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** §3 orchestration — the reference's 4-stage DAG with explicit write
  * barriers between layers (raw -> staged -> processed). Within a stage
  * everything is one Catalyst plan; the barriers are the restartability /
  * audit points the reference's layered design provides. Extract (HTTP)
  * is outside the engine: the pipeline starts at landed raw JSON.
  */
object Pipeline {

  /** Weather: raw glob -> staged parquet -> report CSVs.
    * Mirrors ETL_Weather_API/run_pipeline.py:7-20 (transform+analysis). */
  def runWeather(spark: SparkSession, rawGlob: String, outDir: String): Unit = {
    val staged = Pipelines.weatherStage(spark, rawGlob)
    Sinks.stagedParquet(staged, s"$outDir/staged/weather", partitionCols = Seq("date"))
    val back = spark.read.parquet(s"$outDir/staged/weather")
    Sinks.reportCsv(Analysis.analysisSummary(back), s"$outDir/processed/analysis_summary")
    Sinks.reportCsv(Analysis.hourlyAvgTemp(back), s"$outDir/processed/hourly_avg_temp")
    Sinks.reportCsv(Analysis.histogram(back, col("temperature_c"), 30),
      s"$outDir/processed/hist_temperature")
  }

  /** Air quality: raw glob -> staged parquet (upserted on (city,time),
    * idempotent across reruns like the reference's ON CONFLICT load) ->
    * report CSVs. Mirrors ETL_Multi_Lvl_API/etl_pipeline.py:108-133.
    *
    * No `Analysis.ensureDerived` probe runs here: `aqStage`'s shared tail
    * (`Pipelines.finishAq`) already derives aqi_pm25, severity and
    * risk_class with the same `Features` formulas, and none of the three
    * can be null (severity is coalesce-to-0 arithmetic, the two labels
    * always return one). The probe would be the identity on this frame
    * and would cost one JSON re-parse per batch. */
  def runAq(spark: SparkSession, rawGlob: String, outDir: String): Unit = {
    val staged = Pipelines.aqStage(spark, rawGlob)
    Sinks.upsertParquet(spark, staged, s"$outDir/staged/air_quality",
      keys = Seq("city", "time"))
    val back = spark.read.parquet(s"$outDir/staged/air_quality")
    Sinks.reportCsv(Analysis.summaryMetrics(back), s"$outDir/processed/summary_metrics")
    Sinks.reportCsv(Analysis.cityRiskDistribution(back), s"$outDir/processed/city_risk_distribution")
    Sinks.reportCsv(Analysis.pollutionTrends(back), s"$outDir/processed/pollution_trends")
    Sinks.reportCsv(Analysis.histogram(back, col("pm2_5"), 40), s"$outDir/processed/hist_pm2_5")
    Sinks.reportCsv(Analysis.topCitiesHourlyPm25(back), s"$outDir/processed/hourly_pm2_5_trends")
  }
}
