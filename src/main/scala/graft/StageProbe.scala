package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.engine.Tables
import graft.ext.TextOps

/** Stage-level cost account for the two most expensive queries (q57,
  * q53) under the DRIVER'S cold-bench state: fresh JVM, local[32],
  * single pass, sf0.1. Each stage is timed by materializing exactly
  * that stage's output (count), in query order, so stage 1 absorbs the
  * cold codegen/JIT/scan cost it also absorbs inside the real query.
  * The per-stage numbers explain where the cold single-pass seconds go
  * (BENCH_NOTES "cold-gap disposition") — they are diagnostic, not the
  * bench contract.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32
  *        sbt "runMain graft.StageProbe"
  * Dev harness — not part of the driver contract surface.
  */
object StageProbe {

  private def t[A](label: String)(body: => A): A = {
    val t0 = System.nanoTime()
    val r = body
    println(f"PROBE $label%-42s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
    r
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    // ---- q57 containment pairs: fps persist / rare persist / pair join
    if (args.isEmpty || args.contains("q57")) {
      val k = 8; val w = 4; val dfCap = 32
      val fps = Tables.documents(spark, sfDir)
        .where(length(col("text")) >= k + w - 1)
        .select(col("doc_id"),
          explode(graft.expressions.Exprs.winnowFingerprints(col("text"), k, w)).as("fp"))
        .persist()
      t("q57 stage1: fps explode+persist (COLD)")(fps.count())
      val dfTab = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
        .where(col("df") <= dfCap)
      val rare = fps.join(dfTab, Seq("fp"))
        .select(col("doc_id"), col("fp")).persist()
      t("q57 stage2: df-cap join+persist")(rare.count())
      val nk = rare.groupBy(col("doc_id")).agg(count(lit(1)).as("n_kept"))
      val pairs = rare.select(col("doc_id").as("doc_a"), col("fp"))
        .join(rare.select(col("doc_id").as("doc_b"), col("fp")), Seq("fp"))
        .where(col("doc_a") < col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("shared"))
      val out = pairs
        .join(nk.select(col("doc_id").as("doc_a"), col("n_kept").as("ka")), Seq("doc_a"))
        .join(nk.select(col("doc_id").as("doc_b"), col("n_kept").as("kb")), Seq("doc_b"))
        .where(col("shared") * 2 >= least(col("ka"), col("kb")))
      t("q57 stage3: pair join + score")(out.count())
      spark.catalog.clearCache()
      t("q57 FULL (warm kernels, own caches)")(
        SparkEntry.queries("q57_containment_pairs")(spark, sfDir).count())
      spark.catalog.clearCache()
    }

    // ---- q53 packing plan: range exchange / local window+persist / rest
    if (args.isEmpty || args.contains("q53")) {
      val nShards = spark.conf.get("spark.sql.shuffle.partitions").toInt
      val sharded = Tables.documents(spark, sfDir)
        .select(col("lang"), col("doc_id"), col("text"))
        .repartitionByRange(nShards, col("lang"), col("doc_id"))
        .withColumn("shard", spark_partition_id())
        .select(col("lang"), col("doc_id"), col("shard"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tok"))
        .where(col("n_tok") > 0)
      t("q53 stage1: range exchange + tokenize (COLD)")(sharded.count())
      val wLoc = Window.partitionBy(col("shard"), col("lang")).orderBy(col("doc_id"))
      val local = sharded.withColumn("local_end", sum(col("n_tok")).over(wLoc)).persist()
      t("q53 stage2: shard-local cumsum + persist")(local.count())
      spark.catalog.clearCache()
      t("q53 FULL (warm kernels, own caches)")(
        SparkEntry.queries("q53_packing_plan")(spark, sfDir).count())
      spark.catalog.clearCache()
    }

    // ---- q106 streaming curation: split write / per-trigger drains /
    // compact / store read. A StreamingQueryListener dumps each
    // trigger's durationMs breakdown (addBatch = the foreachBatch body,
    // walCommit/latestOffset = source machinery) so the drain seconds
    // attribute to phases inside the micro-batch.
    if (args.contains("q106")) {
      // job-level account inside the drain: one line per Spark job with
      // wall duration — the addBatch seconds decompose into these
      val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val desc = Option(j.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .orElse(Option(j.properties).flatMap(p => Option(p.getProperty("callSite.short"))))
            .getOrElse("?")
          jobStarts.put(j.jobId, (j.time, desc.take(90)))
        }
        override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val s = jobStarts.remove(j.jobId)
          if (s != null)
            println(f"PROBE-JOB ${j.jobId}%4d ${(j.time - s._1) / 1e3}%6.2f s  ${s._2}")
        }
      })
      spark.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit = {
          val p = e.progress
          val d = p.durationMs
          println(s"PROBE q106 batch=${p.batchId} rows=${p.numInputRows} " +
            s"durationMs=${d}")
        }
      })
      val dir = java.nio.file.Files.createTempDirectory("probe_q106").toString
      val in = s"$dir/in"; val curated = s"$dir/curated"; val sig = s"$dir/sig"
      val docs = Tables.documents(spark, sfDir)
      t("q106 stage0: split write (4 files)") {
        (0 until 4).foreach(i =>
          docs.where(col("doc_id") % 4 === i).coalesce(1)
            .write.mode("append").parquet(in))
      }
      val stream = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(in)
      t("q106 stage1: drain (4 triggers)") {
        graft.streaming.Streaming.incrementalCurationSink(stream, curated, sig,
            numBuckets = 4) // match q106's sizing so the staged account decomposes FULL
          .option("checkpointLocation", s"$dir/ck").start().awaitTermination()
      }
      t("q106 stage2: compact")(
        graft.streaming.Streaming.compactCuratedStore(spark, curated, sig))
      t("q106 stage3: store read + project") {
        graft.engine.Sinks.readUpsertStore(spark, curated)
          .select(col("doc_id"), md5(col("text")).as("text_hash"))
          .orderBy(col("doc_id")).count()
      }
      t("q106 FULL (warm machinery)")(
        SparkEntry.queries("q106_stream_curation")(spark, sfDir).count())
      // A/B: the same drain with AQE off — tiny per-trigger batches pay
      // a fixed job-launch cost per AQE shuffle materialization
      val dir2 = java.nio.file.Files.createTempDirectory("probe_q106b").toString
      val in2 = s"$dir2/in"
      (0 until 4).foreach(i =>
        docs.where(col("doc_id") % 4 === i).coalesce(1)
          .write.mode("append").parquet(in2))
      val stream2 = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(in2)
      // save/restore via the shared toggle (r16 ADVICE: a hardcoded
      // "true" restore clobbers whatever the session actually had)
      Q.withAqeOff(spark) {
        t("q106 stage1-AQE-OFF: drain (4 triggers)") {
          graft.streaming.Streaming.incrementalCurationSink(stream2,
              s"$dir2/curated", s"$dir2/sig", numBuckets = 4)
            .option("checkpointLocation", s"$dir2/ck").start().awaitTermination()
        }
        t("q106 stage2-AQE-OFF: compact")(
          graft.streaming.Streaming.compactCuratedStore(spark, s"$dir2/curated", s"$dir2/sig"))
      }
    }
    // ---- q103 driver-loop PageRank: AQE on vs off. The state is
    // node-scale (11 hosts at sf0.1) so per-block cost is pure
    // scheduling; AQE turns every shuffle in the 4-sweep composed block
    // into its own materialization job.
    if (args.contains("q103")) {
      t("q103 FULL (AQE on, cold)")(
        SparkEntry.queries("q103_pagerank_fixpoint")(spark, sfDir).count())
      t("q103 FULL (AQE on, warm)")(
        SparkEntry.queries("q103_pagerank_fixpoint")(spark, sfDir).count())
      Q.withAqeOff(spark) {
        t("q103 FULL (AQE off)")(
          SparkEntry.queries("q103_pagerank_fixpoint")(spark, sfDir).count())
        t("q103 FULL (AQE off, 2nd)")(
          SparkEntry.queries("q103_pagerank_fixpoint")(spark, sfDir).count())
      }
    }
    spark.stop()
  }
}
