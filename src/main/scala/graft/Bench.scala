package graft
object Bench {
  /** Timed executions materialize EVERY column through the v2 noop sink
    * instead of count(): Catalyst is entitled to — and does — collapse a
    * count() over a projection tail into far less than the query.
    * Concretely, q70/q71's span-cover reconstruction sits above a
    * left-outer join whose aggregate side Catalyst proves unique-keyed,
    * so under count() the JOIN IS ELIMINATED and the "benchmark" timed a
    * bare parquet-scan count (0.2 s) while the real operator costs ~40 s
    * at 100x. The noop sink executes the full physical plan (projections,
    * sorts, kernels) and discards rows — the same accounting as the
    * DuckDB control's fetchall(). r13 methodology change: totals before
    * r13 under-measure projection-tail queries; see BENCH_NOTES. */
  private def materialize(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // median-of-N mode: the box's run-to-run variance (±20%) exceeds most
    // micro-optimizations, so regressions are only claimable off medians
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "1").toInt.max(1)
    val spark = LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    // Per-query spill/shuffle accounting (r15 finding #1: q71's driver
    // reading ran 4.3x its clean median with ext_cpu 0 and rq_ms 0 —
    // the suspected mechanism is shuffle-spill / page-cache state left
    // by the preceding heavy queries, which the duration and CPU
    // columns cannot show). Task metrics accumulate via listener;
    // queries run sequentially, so start/end deltas attribute a
    // query's tasks. Best-effort: the bus is async, so a few
    // end-of-query task events can land in the next query's window —
    // megabyte-scale slop, fine for disposition.
    val spillDiskB = new java.util.concurrent.atomic.AtomicLong
    val spillMemB = new java.util.concurrent.atomic.AtomicLong
    val shufWriteB = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          spillDiskB.addAndGet(m.diskBytesSpilled)
          spillMemB.addAndGet(m.memoryBytesSpilled)
          shufWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          ()
        }
      }
    })
    // deterministic order, HEAVIEST FIRST: the driver's pass tail is
    // systematically contended (r4+r5 driver readings show a uniform
    // ~3-4x slowdown on everything from the ~53rd query onward, never
    // reproducible in clean sessions on the same box/config — see
    // BENCH_NOTES). Running the expensive queries while the session is
    // young keeps them out of that window; the cheap sub-second tail
    // queries lose far less to it. The list is the round-6 cold-median
    // cost ranking (hard-coded, not measured in-run, so the order is
    // identical every session); unlisted queries follow alphabetically.
    val heavyFirst = Seq(
      "q69_curation_stages", // composes the whole staged pipeline — heaviest by construction
      "q78_semantic_curation_stages", // text chain + kmeans sweeps + cell pair join (r14)
      "q100_pretraining_recipe", // curation + UniMax + manifest composed (r15)
      "q60_capped_jaccard_pairs", "q43_ngram_jaccard_pairs",
      "q37_curation_pipeline", "q57_containment_pairs",
      "q49_dup_clusters", "q62_lsh_capped_pairs", // ~1.3 s clean (r8) — shielded like its peers
      "q71_span_dedup", // corpus-wide positional-gram df — q63-class cost
      "q72_semantic_dedup", // in-cell pair join, ~1.8 s cold (r13) — shielded like its peers
      "q73_importance_weights", // full gram explode + 2 doc aggs, ~3.2 s cold (r13)
      "q79_repetition_signals", // compiled per-doc battery, ~2.4 s cold (r14)
      "q75_kmeans_refine", // 3 fused-assignment passes + 2 centroid aggs (r13)
      "q77_semantic_dedup_refined", // q75's sweeps + q76's capped pair join composed (r14)
      "q67_cluster_reps", // ~3.6 s in the r15 97-query pass — shielded like its peers
      "q89_edit_verified_pairs", // LSH + banded levenshtein verify, ~3.2 s (r15)
      "q94_bloom_decontamination", // shingle kernel + probe pass, ~3.2 s (r15)
      "q106_stream_curation", // 4 streaming triggers + store compact (r16)
      "q111_stream_sessionize", // 4 sequential stream RESTARTS sharing a checkpoint (r17)
      "q105_stream_hll_state", // 4 streaming triggers into the register store (r16)
      "q103_pagerank_fixpoint", // 44 driver-loop sweeps, job-overhead bound (r16)
      "q107_kmeans_fixpoint", // 35 driver-loop Lloyd sweeps at sf0.1 (r16)
      "q108_bpe_train", // 24 driver-loop merge sweeps over the vocab (r16)
      "q109_bpe_encode", // trains q108's table, then the vocab replay join (r16)
      "q110_mmr_topk", // 5 greedy driver steps over the retrieval pool (r16)
      "q21_top_revenue_orders",
      "q22_region_revenue", "q16_flatten_arrays", "q12_upsert_latest",
      "q39_topk_aggregator", "q14_summary_metrics", "q26_priority_top3",
      "q53_packing_plan", "q07_histogram", "q03_avg_by_date_hour")
    val rank = heavyFirst.zipWithIndex.toMap
    // experiment-only subset filter (comma-separated names): lets a
    // controlled A/B run THE SAME binaries over a restricted registry
    // (e.g. r14's 81 queries inside the r16 session) to isolate
    // session-size effects — registration, code-cache, GC pressure —
    // from code changes. The driver never sets it.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { s =>
      val unknown = s.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty, s"SPARK_GRAFT_BENCH_ONLY unknown queries: ${unknown.toSeq.sorted}")
    }
    val names = SparkEntry.queries.toSeq
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .sortBy { case (n, _) => (rank.getOrElse(n, Int.MaxValue), n) }
    // stdout keys shrink to the qNN prefix (the driver records only the
    // tail of stdout; see the emit section) — ONE definition, used by
    // both the pre-pass guard and the emitters, so they cannot diverge
    def short(n: String): String = n.takeWhile(_ != '_')
    // two queries sharing a qNN prefix would silently collide to one
    // stdout key — fail loudly BEFORE the multi-minute timed pass, not
    // after it has produced data the failure would then discard
    require(names.map { case (n, _) => short(n) }.distinct.size == names.size,
      "bench stdout keys (qNN prefixes) must be unique across queries")
    // untimed warmup on the smallest SF: JVM/codegen/parquet-reader init
    // and first-touch of every table must not be billed to whichever
    // query happens to run first
    try {
      SparkEntry.entry(spark).count()
      graft.engine.Tables.all.foreach(t =>
        graft.engine.Tables.read(spark, "/root/testdata/sf0.001", t).count())
      // ... and of the BENCH tables themselves: parquet count() is
      // footer-only, so the first data-page decode of each column would
      // otherwise be billed to whichever timed query touches that table
      // first (with heavy-first ordering, the most expensive one).
      // count(col) per column forces one untimed read of every page.
      graft.engine.Tables.all.foreach { t =>
        val df = graft.engine.Tables.read(spark, sfDir, t)
        df.agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)),
          df.columns.map(c => org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.col(c))): _*).collect()
      }
      // ... and of the session MACHINERY, on a 2-row in-memory frame
      // that shares nothing with the bench tables (so no cached-subplan
      // leakage into timed results): the first shuffle exchange, first
      // broadcast join, first window exec, and first persist each pay a
      // one-off init (shuffle system, broadcast infra, Janino/codegen
      // compiler load, InMemoryRelation) that would otherwise be billed
      // to the first timed query — with heavy-first ordering, the most
      // expensive one (q60 carried ~2 s of it in r6/r7 readings).
      locally {
        import org.apache.spark.sql.functions.{broadcast, col, count, row_number}
        val tiny = spark.createDataFrame(java.util.List.of(
          org.apache.spark.sql.Row(1, "a"), org.apache.spark.sql.Row(2, "b")),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.IntegerType),
            org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType))))
        tiny.groupBy("k").agg(count(col("v"))).collect()
        tiny.join(broadcast(tiny.select(col("k"))), "k").collect()
        tiny.select(row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("k").orderBy("v")).as("r")).collect()
        val cached = tiny.persist(); cached.count(); cached.unpersist(true)
      }
    } catch {
      // best-effort by design (a missing warmup dir must not fail the
      // bench), but NEVER silent: a dead warmup shifts init cost into
      // the first timed query and corrupts cross-round comparability —
      // the trace is how a skewed BENCH_r*.json gets diagnosed
      case scala.util.control.NonFatal(t) =>
        System.err.println(s"bench: table/machinery warmup failed (timings will carry init cost): $t")
    }
    // Discard-first warm pass (r16 verdict #1): the committed driver
    // artifact ran +41% above the same code's clean medians, the excess
    // concentrated in the early heavy-first window (q78 43.8 s vs a
    // 4.18 s same-pass canary) with EVERY standing gauge flat — the
    // residue of a fresh 8g JVM executing a 110-query registry for the
    // first time (tiered JIT + deopt + interpreter time + classload,
    // of which jit_ms counts only the compiler-thread half). Rather
    // than keep adding gauges for cost that is definitionally not plan
    // cost, the billed pass is now preceded by ONE full untimed pass
    // over the same queries at the same SF: pass 0 absorbs the
    // session's first-execution costs, the billed pass reads plan
    // cost. Pass-0 durations are recorded per query in BENCH_DETAIL
    // (`pass0_s`) so the discarded readings stay auditable, and
    // SPARK_GRAFT_BENCH_WARMPASS=0 restores the old cold-first-pass
    // behavior for session-pressure archaeology (subset_ab-style
    // batteries). Results are uncached between queries (clearCache
    // below), so nothing result-shaped leaks into billed readings.
    val warmPass = sys.env.getOrElse("SPARK_GRAFT_BENCH_WARMPASS", "1") != "0"
    val pass0 = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // failed-in-pass-0 is the audit case pass0_s exists for (r17 ADVICE
    // #4): keep it distinguishable from warm-pass-off in the sidecar
    // (null vs -1.0) and list the names top-level
    val pass0Failed = scala.collection.mutable.ArrayBuffer.empty[String]
    if (warmPass) {
      names.foreach { case (name, fn) =>
        val t0 = System.nanoTime()
        try {
          materialize(fn(spark, sfDir))
          pass0(name) = (System.nanoTime() - t0) / 1e9
        } catch {
          // a broken query fails (and is recorded) in the billed pass;
          // pass 0 just moves on so one failure can't unwarm the rest
          case scala.util.control.NonFatal(t) =>
            pass0Failed += name
            System.err.println(s"bench: warm pass failed on $name (billed pass will record it): $t")
        }
        spark.catalog.clearCache()
      }
      System.gc()
    } else try {
      // cold mode keeps the old targeted prewarm: only the heaviest
      // dedup/span/streaming queries pre-run at sf0.001 (~2 s) to shed
      // classload + C2-JIT of the codepaths only they touch. Filtered
      // by the SPARK_GRAFT_BENCH_ONLY subset (r16 ADVICE): a subset
      // session must only ever execute subset queries, or the excluded
      // ones partially reintroduce the session-size effects the A/B
      // exists to isolate.
      Seq("q69_curation_stages", "q60_capped_jaccard_pairs",
        "q43_ngram_jaccard_pairs", "q49_dup_clusters",
        "q71_span_dedup", "q106_stream_curation", "q105_stream_hll_state")
        .filter(n => only.forall(_.contains(n)))
        .foreach { n =>
          materialize(SparkEntry.queries(n)(spark, "/root/testdata/sf0.001"))
        }
    } catch {
      case scala.util.control.NonFatal(t) =>
        System.err.println(s"bench: heavy-query prewarm failed (first timed positions will carry JIT/classload cost): $t")
    } finally {
      // ALWAYS drop the prewarm's cached blocks: a throw mid-prewarm must
      // not leak sf0.001 caches into the first (heaviest) timed query
      try spark.catalog.clearCache()
      catch { case scala.util.control.NonFatal(_) => () }
    }
    // Self-dispositioning under contention (r10 verdict #3): twice (r7,
    // r10) a judge had to disposition an inflated driver pass from
    // same-window external controls, because durations alone cannot
    // distinguish "this query regressed" from "the box was busy while
    // this query ran". Two cheap load signals, sampled per query:
    //  - /proc/loadavg (1-min runnable average): box-wide pressure,
    //    including OTHER processes. While the bench itself runs 32
    //    executor threads the load sits near ~32 on a quiet box; values
    //    far above that mean external contention.
    //  - sum of run-delay (field 2 of /proc/self/task/*/schedstat)
    //    across OUR threads: nanoseconds spent runnable-but-waiting for
    //    a CPU. A contended window shows a high rq_ms/duration ratio on
    //    exactly the inflated queries; a real regression shows normal
    //    wait with a longer duration. Thread exits can shrink the sum,
    //    so negative deltas clamp to 0. Both best-effort (-1 off-Linux).
    def loadAvg(): Double =
      try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg"))).split("\\s+")(0).toDouble
      catch { case scala.util.control.NonFatal(_) => -1.0 }
    // Third signal (r11 finding: rq_ms provably under-detects): when the
    // bench's own threads are BLOCKED (shuffle fetch, disk, lock) they are
    // not runnable, so an external CPU hog adds no run-delay — and
    // loadavg's 1-min smoothing is too slow for sub-second queries. The
    // direct measurement is /proc/stat: busy jiffies across the whole box
    // minus THIS JVM's jiffies (/proc/self/stat utime+stime) = CPU other
    // processes consumed during the query window, in units of CPUs.
    // ~0 on a quiet box regardless of what the bench itself does; a
    // contended window reads as the number of cores the contender held.
    def boxJiffies(): (Long, Long) =
      try {
        val f = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("/proc/stat"))).linesIterator.next()
          .split("\\s+").drop(1).map(_.toLong)
        val idle = f(3) + f(4) // idle + iowait
        (f.sum - idle, f.sum)
      } catch { case scala.util.control.NonFatal(_) => (-1L, -1L) }
    def selfJiffies(): Long =
      try {
        val s = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("/proc/self/stat")))
        val rest = s.substring(s.lastIndexOf(')') + 2).split(" ")
        rest(11).toLong + rest(12).toLong // utime + stime
      } catch { case scala.util.control.NonFatal(_) => -1L }
    val nCpuBox =
      try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/stat"))).linesIterator
        .count(_.matches("cpu\\d+ .*"))
      catch { case scala.util.control.NonFatal(_) => -1 }
    // Fourth/fifth signals (r15 finding #1: q71 read 4.3x its clean
    // median with ext_cpu 0, rq_ms 0 AND — this round's instrumented
    // battery — spill 0, so every exogenous gauge was flat): the two
    // remaining ENDOGENOUS costs a fresh-JVM pass pays unevenly are
    // garbage collection and JIT compilation. Both are one MXBean read;
    // a query whose inflation is billed here self-explains as session
    // pressure (heap churn from preceding heavies / late tiered
    // recompilation), not as a plan regression.
    def gcMillis(): Long =
      try {
        import scala.jdk.CollectionConverters._
        java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
          .asScala.map(_.getCollectionTime).filter(_ >= 0).sum
      } catch { case scala.util.control.NonFatal(_) => -1L }
    def jitMillis(): Long =
      try {
        val c = java.lang.management.ManagementFactory.getCompilationMXBean
        if (c == null || !c.isCompilationTimeMonitoringSupported) -1L
        else c.getTotalCompilationTime
      } catch { case scala.util.control.NonFatal(_) => -1L }
    def runDelayNs(): Long =
      try {
        val tasks = new java.io.File("/proc/self/task").listFiles()
        if (tasks == null) -1L
        else tasks.foldLeft(0L) { (acc, t) =>
          acc + (try new String(java.nio.file.Files.readAllBytes(
            new java.io.File(t, "schedstat").toPath)).split("\\s+")(1).toLong
          catch { case scala.util.control.NonFatal(_) => 0L })
        }
      } catch { case scala.util.control.NonFatal(_) => -1L }
    val samples = names.map { case (n, _) =>
      n -> scala.collection.mutable.ArrayBuffer.empty[Double] }.toMap
    // per-query load signals, first pass only (like offsets)
    val loads = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val rqMs = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // external-CPU estimate per query (CPUs held by OTHER processes)
    val extCpu = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // per-query (disk spill, memory spill, shuffle write) MB deltas
    val spillQ = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double, Double)]
    // per-query (GC time, JIT compilation time) ms deltas
    val gcJitQ = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Long)]
    // per-query start offset from pass start (r6 verdict: durations alone
    // cannot locate a query IN TIME, so externally-contended windows were
    // indistinguishable from real regressions in the driver's artifact;
    // the offsets make the disposition readable off the JSON itself).
    // First pass only — that is the driver's configuration (iters=1).
    val offsets = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // a broken query must FAIL the bench, not silently record a fast -1
    // and deflate the total — collect the error, emit it in the JSON, and
    // exit nonzero after printing
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // broadcast/shuffle state from completed queries is only released
    // when the ContextCleaner's weak references are collected — which
    // needs a DRIVER GC, and in a quiet 8g heap one may not happen for
    // the whole pass (spark.cleaner.periodicGC defaults to 30 MIN). In
    // local mode driver == executors, so ~60 queries of accumulated
    // broadcast blocks squeeze the unified memory region exactly at the
    // pass tail. Nudge a collection every 10 queries; tens of ms each
    // against a multi-second failure mode.
    var sinceGc = 0
    def maybeGc(): Unit = { sinceGc += 1; if (sinceGc >= 10) { sinceGc = 0; System.gc() } }
    val passStart = System.nanoTime()
    for (_ <- 1 to iters) names.foreach { case (name, fn) =>
      // load signals sample on the FIRST pass only; both sweeps happen
      // BEFORE t0 / after the timed body, so the /proc reads (one file
      // per JVM thread, ~hundreds under 32 executor threads) are never
      // inside a timed window, and later iterations skip them entirely
      val needSignals = !rqMs.contains(name)
      val rd0 = if (needSignals) runDelayNs() else -1L
      val (bb0, bt0) = if (needSignals) boxJiffies() else (-1L, -1L)
      val sj0 = if (needSignals) selfJiffies() else -1L
      val (sd0, sm0, sw0) =
        if (needSignals) (spillDiskB.get, spillMemB.get, shufWriteB.get)
        else (-1L, -1L, -1L)
      val (gc0, jit0) = if (needSignals) (gcMillis(), jitMillis()) else (-1L, -1L)
      val t0 = System.nanoTime()
      if (!offsets.contains(name)) {
        offsets(name) = (t0 - passStart) / 1e9
        loads(name) = loadAvg()
      }
      try {
        materialize(fn(spark, sfDir))
        samples(name) += (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        errors(name) = e.toString.replaceAll("[\"\\\\\n\r]", " ").take(200)
      }
      if (needSignals) {
        val rd1 = runDelayNs()
        rqMs(name) = if (rd0 < 0 || rd1 < 0) -1.0 else (rd1 - rd0).max(0L) / 1e6
        val (bb1, bt1) = boxJiffies()
        val sj1 = selfJiffies()
        extCpu(name) =
          if (bb0 < 0 || bb1 < 0 || sj0 < 0 || sj1 < 0 || nCpuBox <= 0 || bt1 <= bt0) -1.0
          else ((bb1 - bb0) - (sj1 - sj0)).max(0L).toDouble * nCpuBox / (bt1 - bt0)
        spillQ(name) = ((spillDiskB.get - sd0) / 1e6,
          (spillMemB.get - sm0) / 1e6, (shufWriteB.get - sw0) / 1e6)
        val (gc1, jit1) = (gcMillis(), jitMillis())
        gcJitQ(name) = (if (gc0 < 0 || gc1 < 0) -1L else (gc1 - gc0).max(0L),
          if (jit0 < 0 || jit1 < 0) -1L else (jit1 - jit0).max(0L))
      }
      // queries that .persist() intermediates cannot unpersist in their
      // (lazy) bodies; drop cached blocks here so they don't accumulate
      // across the session and skew later queries' available memory
      spark.catalog.clearCache()
      maybeGc()
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.isEmpty) -1.0
      else if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val wallS = (System.nanoTime() - passStart) / 1e9
    val results = names.map { case (n, _) => n -> median(samples(n).toSeq) }
    // Shutdown-path log hygiene: the driver records only the LAST 2000
    // chars of output, and the localCheckpoint-unpersist WARNs emitted by
    // clearCache/stop AFTER the metric line have (r11) pushed the line
    // clean out of that window — an otherwise-green round recorded no
    // bench at all. Everything timed is done; silence WARN for the tail.
    spark.sparkContext.setLogLevel("ERROR")
    // Canary re-run (r11 finding: rq_ms under-detects when our threads
    // block instead of queueing): re-run the pass's 3 heaviest completed
    // queries once, AFTER the pass, with their own ext_cpu sample. An
    // external-contention artifact does not reproduce — inflated pass
    // dur_s + canary back at baseline + canary ext_cpu ~0 dispositions a
    // q57-style reading without a judge-run control; a real regression
    // reproduces in the canary. Untimed w.r.t. the stdout total (the
    // pass is already over), ~5-10 s of wall.
    //
    // r13 finding: the canary itself produced a 7x ENDOGENOUS outlier on
    // a QUIET box (q67 23.4 s canary vs 3.1 s clean median, ext_cpu 0.3)
    // — most plausibly end-of-pass storage-memory pressure (accumulated
    // broadcast / localCheckpoint blocks awaiting ContextCleaner GC)
    // evicting a re-run's persisted blocks mid-query and recomputing
    // them through expensive lineage (q67 rides q49's CC loop). A canary
    // reading exists to DISPOSITION contention; an endogenous outlier
    // falsely suggests it. So the canary now (a) resets to clean-session
    // conditions first — drop cached blocks, force GC cycles so the
    // ContextCleaner's weak-ref sweep actually releases broadcast and
    // checkpoint state, give its async queue a moment to drain — and
    // (b) records storage-memory occupancy per row, so if pressure DOES
    // remain the artifact self-explains instead of reading as contention.
    def storageUsedMb(): Double =
      try spark.sparkContext.getExecutorMemoryStatus.values
        .map { case (max, rem) => max - rem }.sum / 1e6
      catch { case scala.util.control.NonFatal(_) => -1.0 }
    val canary = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double, Double, Double)]
    try {
      spark.catalog.clearCache()
      System.gc(); Thread.sleep(300); System.gc(); Thread.sleep(300)
    } catch { case scala.util.control.NonFatal(_) => () }
    try {
      results.filter(_._2 >= 0).sortBy(-_._2).take(3).foreach { case (n, _) =>
        val st0 = storageUsedMb()
        val (cb0, ct0) = boxJiffies(); val cs0 = selfJiffies()
        val csd0 = spillDiskB.get
        val c0 = System.nanoTime()
        materialize(SparkEntry.queries(n)(spark, sfDir))
        val durS = (System.nanoTime() - c0) / 1e9
        val (cb1, ct1) = boxJiffies(); val cs1 = selfJiffies()
        val ext =
          if (cb0 < 0 || cb1 < 0 || cs0 < 0 || cs1 < 0 || nCpuBox <= 0 || ct1 <= ct0) -1.0
          else ((cb1 - cb0) - (cs1 - cs0)).max(0L).toDouble * nCpuBox / (ct1 - ct0)
        canary(n) = (durS, ext, st0, (spillDiskB.get - csd0) / 1e6)
        spark.catalog.clearCache()
      }
    } catch { case scala.util.control.NonFatal(t) =>
      System.err.println(s"bench: canary re-run failed (disposition columns incomplete): $t")
    }
    // The driver records only the last 2000 chars of stdout. The r10
    // line (70 duration entries + 70 start offsets) ran the metric line
    // + sbt epilogue to ~1870 of those 2000 chars — one more round of
    // query growth would push the line's HEAD out of the recorded tail
    // and lose the total. Keys shrink to their unique qNN prefix, and
    // the per-query start offsets / load samples live ONLY in
    // BENCH_DETAIL.json (full fidelity, written below); the stdout line
    // keeps durations plus pass-level aggregates.
    def fmt(v: Double): String = "%.3f".format(v)
    // short() is defined above the pre-pass uniqueness guard
    val qs = results.map { case (k, v) => "\"" + short(k) + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => s"\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val rqTotal = rqMs.values.filter(_ >= 0).sum
    // full-fidelity sidecar for the judge: full names, run order, start
    // offsets, every sample (not just the median), and the per-query
    // load disposition columns (r10 verdict #3) — loadavg at query
    // start and our threads' run-delay during the query, so a
    // contended window is readable off the artifact itself: inflated
    // dur_s + high rq_ms => the box, inflated dur_s + normal rq_ms =>
    // the code. Best-effort — the bench result is the stdout line; a
    // read-only cwd must not fail it.
    try {
      val detail = names.zipWithIndex.map { case ((n, _), i) =>
        val ss = samples(n).map(fmt).mkString("[", ",", "]")
        val (sd, sm, sw) = spillQ.getOrElse(n, (-1.0, -1.0, -1.0))
        val (gq, jq) = gcJitQ.getOrElse(n, (-1L, -1L))
        val p0 = pass0.get(n).map(fmt).getOrElse(if (warmPass) "null" else "-1.0")
        s"""  {"order":$i,"name":"$n","t0_s":${"%.2f".format(offsets.getOrElse(n, -1.0))},"dur_s":${fmt(median(samples(n).toSeq))},"pass0_s":$p0,"load":${"%.1f".format(loads.getOrElse(n, -1.0))},"rq_ms":${"%.1f".format(rqMs.getOrElse(n, -1.0))},"ext_cpu":${"%.2f".format(extCpu.getOrElse(n, -1.0))},"spill_mb":${"%.1f".format(sd)},"mem_spill_mb":${"%.1f".format(sm)},"shuf_w_mb":${"%.1f".format(sw)},"gc_ms":$gq,"jit_ms":$jq,"samples":$ss}"""
      }.mkString("[\n", ",\n", "\n]")
      val canaryJson = canary.map { case (n, (d, e, st, sd)) =>
        s"""{"name":"$n","dur_s":${fmt(d)},"ext_cpu":${"%.2f".format(e)},"storage_mb_at_start":${"%.0f".format(st)},"spill_mb":${"%.1f".format(sd)}}"""
      }.mkString("[", ",", "]")
      val p0f = pass0Failed.map(n => s""""$n"""").mkString("[", ",", "]")
      val body = s"""{"total_s":${fmt(total)},"wall_s":${fmt(wallS)},"iters":$iters,"warm_pass":$warmPass,"pass0_total_s":${fmt(pass0.values.sum)},"pass0_failed":$p0f,"sf":"$sfDir","note":"pass0_s = this query's duration in the DISCARDED warm pass (r16 verdict #1: billed readings are from a session whose first-execution JIT/classload/deopt costs were absorbed by one full untimed pass; -1.0 = warm pass deliberately off, null = this query FAILED in pass 0 — names also in pass0_failed); t0_s = offset of the query's first timed start from pass start; load = 1-min /proc/loadavg at query start (~32 = this bench alone on 32 threads); rq_ms = run-delay growth of this JVM's threads during the query (first pass); ext_cpu = CPUs held by OTHER processes during the query window (/proc/stat minus /proc/self/stat, first pass; ~0 = quiet box); canary = post-pass re-run of the 3 heaviest queries after a cache-drop + GC reset to clean-session conditions — an externally-contended pass reading does not reproduce there, and storage_mb_at_start records residual storage-memory occupancy so an endogenous-pressure outlier self-explains (r13: a 7x quiet-box canary outlier traced to end-of-pass storage pressure, not contention); stdout line keys are the qNN prefixes of these names; spill_mb/mem_spill_mb/shuf_w_mb = this query's disk-spill / in-memory-spill / shuffle-write deltas from task metrics (first pass, listener-bus best-effort — r15 finding #1 asked for spill visibility to disposition q71-class readings); gc_ms/jit_ms = this JVM's garbage-collection / JIT-compilation time during the query (MXBean deltas, first pass) — the endogenous session-pressure gauges for readings where every exogenous gauge is flat","canary":$canaryJson,"queries":$detail}"""
      java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_DETAIL.json"),
        body.getBytes("UTF-8"))
    } catch { case scala.util.control.NonFatal(_) => () }
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","wall_s":${fmt(wallS)},"rq_ms":${fmt(rqTotal)},"iters":$iters,"queries":$qs,"errors":$errJson,"sf":"$sfDir"}""")
    spark.stop()
    // Legacy-shaped line, printed LAST (after stop, so nothing can log
    // past it): exactly the driver-spec keys — {"metric","value","unit",
    // "queries","sf"} with NUMERIC sf — and positioned where a record-the-
    // tail parser cannot miss it. Twelve rounds of BENCH_r*.json carry
    // "parsed": null against the richer detail line above; this is the
    // recorded experiment to rule shape in or out (r11 "what's wrong" #4).
    val sfNum = """sf([0-9.]+)""".r.findFirstMatchIn(sfDir)
      .map(_.group(1).stripSuffix(".")).getOrElse("0")
    // "gauges" (r21 verdict #6, ADDITIONS-ONLY — metric/value/queries
    // semantics untouched): both r20 and r21 driver artifacts carried
    // contiguous multi-minute contaminated windows that a later judge
    // had to disposition from files the driver does not record. The
    // billed pass's own warm-pass and run-queue gauges make the
    // disposition readable off this line: for up to 6 queries whose
    // billed reading is >= 2 s AND >= 2x their pass0 (the discarded
    // warm pass over the same plan), emit [pass0_s, rq_ms] — inflated
    // billed + small pass0 + rq ~0 reads as a session/window artifact,
    // not plan cost. Bounded at 6 entries so the line stays inside the
    // driver's 2000-char stdout tail.
    val suspect = results.collect { case (n, v) if v >= 2.0 &&
        pass0.get(n).exists(p => p > 0 && v >= 2 * p) =>
      (n, v, pass0(n), rqMs.getOrElse(n, -1.0)) }
      .sortBy { case (_, v, p, _) => -(v / p) }.take(6)
    val gaugesJson = suspect.map { case (n, _, p, rq) =>
      "\"" + short(n) + "\":[" + fmt(p) + "," + "%.0f".format(rq) + "]" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"gauges":$gaugesJson,"sf":$sfNum}""")
    if (errors.nonEmpty)
      throw new RuntimeException(s"bench: ${errors.size} queries failed: ${errors.keys.mkString(", ")}")
  }
}
