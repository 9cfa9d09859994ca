package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.engine.{Analysis, Pipeline, Pipelines, Sinks}

/** The benchmark's JVM side. It runs one workload closed loop from this
  * thread (one operation at a time) through the engine's public entry
  * points only, and writes what it measured to a JSON file that
  * `perfbench/run.py` turns into the benchmark's result line.
  *
  * Usage: Harness <workload> <inputDir> <runDir> <seconds> <trace 0|1>
  *        <cores> <setups> <outJson>
  *
  * `inputDir` holds `full/` (the measured input) and `warm/` (the reduced
  * warm-up input). Every file the run writes lands under `runDir`.
  */
object Harness {

  /** One workload: the queries it runs (empty for aq_pipeline) and the
    * unit of work the timed loop repeats. */
  private val registry: Map[String, Seq[String]] = Map(
    "curation_recipe" -> Seq("q100_pretraining_recipe"),
    "stream_curation" -> Seq("q106_stream_curation"),
    "fixpoint_loops" -> Seq("q103_pagerank_fixpoint", "q107_kmeans_fixpoint", "q108_bpe_train"))
  val workloads: Seq[String] = "aq_pipeline" +: registry.keys.toSeq.sorted

  /** One checked operation; `rows` and `schema` are kept for the
    * registry workloads, whose results are compared with the oracle. */
  final case class Op(name: String, digest: String, rows: Array[Row] = null,
                      schema: StructType = null)

  final case class UnitResult(wall: Double, steps: Seq[Double], ops: Seq[Op],
                              outputBytes: Long, dir: String, traced: Boolean)

  def main(argv: Array[String]): Unit = {
    val Array(workload, input, run, secondsS, traceS, coresS, setupsS, out) = argv
    require(workloads.contains(workload), s"unknown workload $workload")
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val cores = coresS.toInt
    new File(s"$run/units").mkdirs()

    // set-up: session start plus one warm-up unit on the reduced input,
    // repeated `setups` times in fresh sessions; the first one is timed
    // from JVM start so class loading shows
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    var spark: SparkSession = null
    val setupTimes = (0 until setupsS.toInt).map { i =>
      val t0 = if (i == 0) jvmStart else System.currentTimeMillis()
      if (spark != null) spark.stop()
      spark = session(cores, run)
      val warm = new Tracer(spark, on = false)
      runUnit(workload, spark, s"$input/warm", s"$run/warm$i", warm)
      spark.catalog.clearCache()
      (System.currentTimeMillis() - t0) / 1000.0
    }

    val counters = new SparkCounters
    val streams = new StreamCounters
    spark.sparkContext.addSparkListener(counters)
    spark.streams.addListener(streams)
    val tracer = new Tracer(spark, on = false)
    val traced = new Tracer(spark, on = true)
    val contention = Contention.start()
    val units = mutable.ArrayBuffer[UnitResult]()
    val failures = mutable.ArrayBuffer[String]()
    val progress = mutable.Map[Int, Seq[StreamingQueryProgress]]()
    val t0 = System.nanoTime()
    // the traced run alternates untraced and traced units, so that the
    // same process reports the tracing overhead and (for aq_pipeline)
    // runs both the runAq path and the decomposed path on one seed
    while (units.size < (if (trace) 2 else 1) || (System.nanoTime() - t0) / 1e9 < seconds) {
      val i = units.size
      val tr = if (trace && i % 2 == 1) traced else tracer
      tr.unit = i
      val streamFrom = streams.drain().size
      try {
        val u = runUnit(workload, spark, s"$input/full", s"$run/units/u$i", tr)
        progress(i) = streams.drain().drop(streamFrom).filter(_.numInputRows > 0)
        val triggers = progress(i).map(_.durationMs.get("triggerExecution").toDouble / 1000.0)
        units += (if (workload == "stream_curation") u.copy(steps = triggers) else u)
        u.ops.filter(_.rows != null).foreach { o =>
          distinct.getOrElseUpdate((o.name, o.digest), (o.rows, o.schema))
        }
      } catch {
        case NonFatal(e) =>
          failures += s"unit $i: ${e.getClass.getSimpleName}: ${e.getMessage}"
          units += UnitResult(Double.NaN, Nil, registry.getOrElse(workload, Seq("runAq"))
            .map(Op(_, "failed")), 0L, s"$run/units/u$i", tr.on)
      }
    }
    val window = (System.nanoTime() - t0) / 1e9
    val cont = contention.stop()
    counters.drain()
    streams.drain()

    val results = writeResults(spark, s"$run/results")
    val layers = if (trace) Layers.summarize(traced, counters, progress.toMap, cores,
                   units.filter(!_.traced).map(_.wall).filter(!_.isNaN).toSeq)
                 else Map.empty[String, Double]
    val result = Map(
      "workload" -> workload,
      "setup_s" -> setupTimes,
      "window_s" -> window,
      "units" -> units.map(u => Map(
        "wall_s" -> Some(u.wall).filter(!_.isNaN), "steps" -> u.steps,
        "output_bytes" -> u.outputBytes, "dir" -> u.dir, "traced" -> u.traced,
        "ops" -> u.ops.map(o => Map("name" -> o.name, "digest" -> o.digest)))),
      "failures" -> failures,
      "memory_mb" -> Contention.memoryMb(),
      "contention" -> cont,
      "layers" -> layers,
      "results" -> results,
      "oracle_sql" -> registry.getOrElse(workload, Nil)
        .flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap)
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(new File(out), result)
    spark.stop()
  }

  def session(cores: Int, run: String): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$run/spark-local")
      .config("spark.sql.warehouse.dir", s"$run/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$run/hadoop-tmp")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Distinct result row sets seen by the loop, by query and digest. */
  private val distinct = mutable.LinkedHashMap[(String, String), (Array[Row], StructType)]()

  /** Order-insensitive digest of collected rows: sha-256 over the sorted
    * row renderings. Two runs agree iff they return the same multiset. */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach { r => md.update(r.getBytes("UTF-8")); md.update(10.toByte) }
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  private def runUnit(workload: String, spark: SparkSession, in: String, dir: String,
                      tr: Tracer): UnitResult =
    if (workload == "aq_pipeline") aqUnit(spark, in, dir, tr)
    else registryUnit(spark, registry(workload), in, dir, tr)

  /** aq_pipeline: every landed batch, in order, into one output
    * directory. Untraced units call `Pipeline.runAq`; traced units make
    * its calls one by one, in its order, each inside a span. */
  private def aqUnit(spark: SparkSession, in: String, dir: String, tr: Tracer): UnitResult = {
    val batches = new File(in).listFiles().filter(_.getName.startsWith("batch_"))
      .map(_.getPath).sortBy(p => p.substring(p.lastIndexOf('_') + 1).toInt)
    val store = s"$dir/staged/air_quality"
    val t0 = System.nanoTime()
    val steps = tr.span("unit") {
      batches.toSeq.map { b =>
        val s0 = System.nanoTime()
        if (!tr.on) Pipeline.runAq(spark, s"$b/*.json", dir)
        else tr.span("step") {
          val raw = tr.span("pipelines.aqStage")(Pipelines.aqStage(spark, s"$b/*.json"))
          val staged = tr.span("analysis.ensureDerived")(Analysis.ensureDerived(raw))
          val before = Disk.listing(store)
          tr.span("sinks.upsertParquet")(Sinks.upsertParquet(spark, staged, store,
            keys = Seq("city", "time")))
          tr.storeWrite(before, Disk.listing(store))
          val back = spark.read.parquet(store)
          val reports = tr.span("analysis.reports")(Seq(
            "summary_metrics" -> Analysis.summaryMetrics(back),
            "city_risk_distribution" -> Analysis.cityRiskDistribution(back),
            "pollution_trends" -> Analysis.pollutionTrends(back),
            "hist_pm2_5" -> Analysis.histogram(back, col("pm2_5"), 40),
            "hourly_pm2_5_trends" -> Analysis.topCitiesHourlyPm25(back)))
          reports.foreach { case (name, df) =>
            tr.span("sinks.reportCsv")(Sinks.reportCsv(df, s"$dir/processed/$name"))
          }
        }
        (System.nanoTime() - s0) / 1e9
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    UnitResult(wall, steps, Seq(Op("runAq", "store")), Disk.bytes(dir), dir, tr.on)
  }

  /** Registry workloads: each query is planned through
    * `SparkEntry.queries` and its rows collected; the harness then
    * releases what the query left cached, as graft.Bench does. */
  private def registryUnit(spark: SparkSession, queries: Seq[String], in: String,
                           dir: String, tr: Tracer): UnitResult = {
    val tmp = System.getProperty("java.io.tmpdir")
    val before = Disk.listing(tmp)
    val t0 = System.nanoTime()
    val done = tr.span("unit") {
      queries.map { q =>
        val s0 = System.nanoTime()
        val (rows, schema) = tr.span("step") {
          val df = tr.span("queries.plan")(SparkEntry.queries(q)(spark, in))
          (tr.span("queries.exec")(df.collect()), df.schema)
        }
        val step = (System.nanoTime() - s0) / 1e9
        tr.cacheResidual(spark)
        spark.catalog.clearCache()
        Op(q, digest(rows), rows, schema) -> step
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val after = Disk.listing(tmp)
    val written = Disk.written(before, after)
    tr.storeWrite(before, after)
    // the query's own output: bytes it left on disk (the stream store)
    // or, for read-only chains, the collected rows as text
    val out = if (written._1 > 0) written._1
              else done.map(_._1.rows.map(_.toString.length + 1L).sum).sum
    UnitResult(wall, done.map(_._2), done.map(_._1), out, dir, tr.on)
  }

  /** Write every distinct result once as parquet for the oracle compare. */
  private def writeResults(spark: SparkSession, dir: String): Map[String, Map[String, String]] =
    distinct.toSeq.groupBy(_._1._1).map { case (q, entries) =>
      q -> entries.map { case ((_, d), (rows, schema)) =>
        val path = s"$dir/$q-$d"
        spark.createDataFrame(rows.toList.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(path)
        d -> path
      }.toMap
    }
}
