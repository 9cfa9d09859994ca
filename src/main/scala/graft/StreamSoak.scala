package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Streaming-curation scale soak (dev main): drives
  * [[graft.streaming.Streaming.incrementalCurationSink]] over B
  * micro-batches built from the sf documents table and times every
  * trigger, then times ONE periodic batch recuration (`curatedDocsOf`
  * over the landed union) as the O(corpus) control.
  *
  * Corpus shape — the duplicate-density worst case: every batch is the
  * WHOLE source table with monotone doc_id offsets and a per-(batch,
  * doc) token prefix, so exact dedup never collapses across batches
  * (the seen store grows by the full batch every trigger) while every
  * batch-b doc is a near-replica of its b-1 predecessors (the banded
  * probe faces b-1 stored collisions per doc — candidate volume grows
  * with the store, exactly what a replica-heavy ingest feed does).
  * Evidence sought: per-trigger wall stays ~flat while the seen store
  * grows B-fold (state is probed via the band equi-join, never
  * scanned), and the final trigger costs far less than the full-union
  * recuration the sink's scaladoc tells corpus-trained stages to use.
  *
  * Usage: runMain graft.StreamSoak [srcSfDir] [workDir] [nBatches] [ooo|media]
  * With the optional 4th arg `ooo`, batches land with DECREASING id
  * offsets — every later batch is a LOWER-ID copy of everything
  * already admitted, the sink's out-of-order edge at full corpus
  * scale, in BOTH dedup flavors: docs with source id % 3 == 0 drop the
  * batch-unique prefix so their B copies are EXACT cross-batch
  * duplicates (each later one at a lower id — the r15 lower-id
  * admission path), the rest stay near-replicas (the banded-probe
  * path). The curated store accumulates copies of both kinds, and the
  * post-run [[graft.streaming.Streaming.compactCuratedStore]] must
  * (measured) collapse it to the one-batch answer in one pass. In the
  * default monotone mode the same compact is the 0-deletion
  * maintenance-scan floor.
  *
  * With `media`, the soak drives the MULTIMODAL ingest store's same
  * out-of-order edge ([[graft.streaming.Streaming.mediaNearDupSuppressSink]]
  * + [[graft.streaming.Streaming.compactMediaStore]]): every batch is
  * the whole mixed-format corpus at a DECREASING id offset — each
  * later batch a byte-identical (same-fingerprint) lower-id copy of
  * everything already admitted, which passes the strict-< probe, so
  * the store accumulates multiply-admitted replica chains — then one
  * measured compact must converge the admitted flags to the one-shot
  * answer (checksummed against a fresh single-drain store over the
  * union) and a rerun must demote 0. Dev harness — not part of the
  * driver contract surface.
  */
object StreamSoak {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val work = if (args.length > 1) args(1) else "/tmp/graft_streamsoak"
    val nBatches = if (args.length > 2) args(2).toInt else 12
    val ooo = args.length > 3 && args(3) == "ooo"
    val media = args.length > 3 && args(3) == "media"
    val spark = LocalSession(32)
    // fresh work dir: stale checkpoints/stores would turn triggers into no-ops
    val workPath = java.nio.file.Paths.get(work)
    if (java.nio.file.Files.exists(workPath)) {
      java.nio.file.Files.walk(workPath).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
    val inDir = s"$work/in"; val ckpt = s"$work/ckpt"
    val curated = s"$work/curated"; val sigs = s"$work/seen"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
    if (media) { runMediaOoo(spark, src, work, nBatches); spark.stop(); return }
    val docs = graft.engine.Tables.documents(spark, src).select("doc_id", "text")
    val stages = graft.queries.TextQueries.CurationStages()

    def landBatch(b: Int): Unit = {
      // prefix tokens: s<b> is batch-unique (no cross-batch exact dups,
      // so the seen store grows by the full batch every trigger), d<id>
      // is doc-unique within the batch — the source's natural exact
      // replicas become near-replicas, shifting their whole load onto
      // the banded stages (the harder path). d<id> reuses the SOURCE
      // id, so a base doc's b replicas stay band-colliding near-dups.
      // In ooo mode every third source doc DROPS the batch prefix: its
      // B copies are exact cross-batch duplicates, each later one at a
      // lower id — the exact-stage out-of-order path the lower-id
      // admission rule + compact's text-hash pass must converge.
      val off = (if (ooo) (nBatches - b).toLong else b.toLong) * 10000000L
      val batchText =
        if (ooo)
          when(col("doc_id") % 3 === 0,
            concat(lit("d"), col("doc_id"), lit(" "), col("text")))
            .otherwise(concat(lit(s"s$b d"), col("doc_id"), lit(" "), col("text")))
        else concat(lit(s"s$b d"), col("doc_id"), lit(" "), col("text"))
      val batch = docs.select(
        (col("doc_id") + lit(off)).as("doc_id"), batchText.as("text"))
      val stage = s"$work/stage_b$b"
      batch.coalesce(4).write.mode("overwrite").parquet(stage)
      // file source sees files, not directories: move the parts in
      val parts = java.nio.file.Files.list(java.nio.file.Paths.get(stage))
        .filter(p => p.getFileName.toString.startsWith("part-")).iterator()
      var i = 0
      while (parts.hasNext) {
        val p = parts.next()
        java.nio.file.Files.move(p,
          java.nio.file.Paths.get(inDir, s"b${b}_$i.parquet"))
        i += 1
      }
    }

    val triggerS = (1 to nBatches).map { b =>
      landBatch(b)
      val t0 = System.nanoTime()
      val q = graft.streaming.Streaming.incrementalCurationSink(
          graft.streaming.Streaming.parquetFileStream(spark, docSchema, inDir),
          curated, sigs, stages)
        .option("checkpointLocation", ckpt).start()
      q.awaitTermination()
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      val seenN = graft.engine.Sinks.readUpsertStore(spark, sigs).count()
      val curN = graft.engine.Sinks.readUpsertStore(spark, curated).count()
      println(f"STREAMSOAK trigger $b%2d  dur $dt%7.2f s   seen=$seenN%8d curated=$curN%8d")
      dt
    }

    // the O(corpus) control: one periodic batch recuration over the
    // landed union — what every trigger would cost if the stream
    // re-curated history instead of probing the stores
    val union = spark.read.schema(docSchema).parquet(s"$inDir/*.parquet")
    val t0 = System.nanoTime()
    val full = graft.queries.TextQueries.curatedDocsOf(union, stages)
    full.write.format("noop").mode("overwrite").save()
    val fullS = (System.nanoTime() - t0) / 1e9
    // sanity: monotone ids => streamed store must equal the one-batch
    // run (checksummed, not just counted)
    val streamedChk = graft.engine.Sinks.readUpsertStore(spark, curated)
      .agg(count(lit(1)), sum(col("doc_id"))).collect().head
    val batchChk = full.agg(count(lit(1)), sum(col("doc_id"))).collect().head
    spark.catalog.clearCache()
    println(f"STREAMSOAK recuration-control dur $fullS%7.2f s over ${nBatches} batches")
    println(s"STREAMSOAK equivalence streamed=(${streamedChk.mkString(",")}) batch=(${batchChk.mkString(",")})" +
      (if (ooo) " [pre-compact: EXPECTED to differ in ooo mode]" else ""))
    // the compact pass, measured: in ooo mode it must collapse the
    // accumulated out-of-order near-copies to the batch answer in one
    // pass; in monotone mode it is the 0-deletion maintenance floor.
    // Either way the second run pins idempotence at scale.
    val c0 = System.nanoTime()
    val nDel = graft.streaming.Streaming.compactCuratedStore(spark, curated, sigs)
    val compactS = (System.nanoTime() - c0) / 1e9
    spark.catalog.clearCache()
    val c1 = System.nanoTime()
    val nDel2 = graft.streaming.Streaming.compactCuratedStore(spark, curated, sigs)
    val compact2S = (System.nanoTime() - c1) / 1e9
    spark.catalog.clearCache()
    val postChk = graft.engine.Sinks.readUpsertStore(spark, curated)
      .agg(count(lit(1)), sum(col("doc_id"))).collect().head
    println(f"STREAMSOAK compact dur $compactS%7.2f s deleted=$nDel%d; rerun dur $compact2S%7.2f s deleted=$nDel2%d")
    println(s"STREAMSOAK post-compact streamed=(${postChk.mkString(",")}) batch=(${batchChk.mkString(",")})")
    println(f"STREAMSOAK summary first=${triggerS.head}%.2f last=${triggerS.last}%.2f " +
      f"median=${triggerS.sorted.apply(triggerS.size / 2)}%.2f control=$fullS%.2f compact=$compactS%.2f")
    spark.stop()
  }

  /** The `media` mode: the multimodal ingest store's out-of-order
    * convergence, measured at corpus scale (see object scaladoc). */
  private def runMediaOoo(spark: SparkSession, src: String, work: String,
                          nBatches: Int): Unit = {
    val mediaSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("media", org.apache.spark.sql.types.BinaryType)))
    val inDir = s"$work/in"; val ckpt = s"$work/ckpt"; val store = s"$work/store"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
    val corpus = graft.queries.MultimodalQueries.mixedFpCorpus(
      spark, graft.engine.Tables.documents(spark, src))

    def landBatch(b: Int): Unit = {
      // DECREASING offsets: batch b's rows are byte-identical (same-
      // fingerprint) LOWER-id copies of batch b-1's — each passes the
      // strict-< probe (crash-replay safety), so the store accumulates
      // multiply-admitted replica chains: the exact divergence the
      // compact must retire
      val off = (nBatches - b).toLong * 10000000L
      val stage = s"$work/stage_b$b"
      corpus.select((col("doc_id") + lit(off)).as("doc_id"), col("media"))
        .coalesce(4).write.mode("overwrite").parquet(stage)
      val parts = java.nio.file.Files.list(java.nio.file.Paths.get(stage))
        .filter(p => p.getFileName.toString.startsWith("part-")).iterator()
      var i = 0
      while (parts.hasNext) {
        val p = parts.next()
        java.nio.file.Files.move(p,
          java.nio.file.Paths.get(inDir, s"b${b}_$i.parquet"))
        i += 1
      }
    }

    def chk(path: String): String = {
      val s = graft.engine.Sinks.readUpsertStore(spark, path)
        .agg(count(lit(1)),
          sum(when(col("admitted"), 1L).otherwise(0L)),
          sum(when(col("admitted"), col("doc_id")).otherwise(0L)),
          sum(col("doc_id"))).collect().head
      s.mkString(",")
    }

    val triggerS = (1 to nBatches).map { b =>
      landBatch(b)
      val t0 = System.nanoTime()
      graft.streaming.Streaming.mediaNearDupSuppressSink(
          spark.readStream.schema(mediaSchema)
            .option("maxFilesPerTrigger", 4).parquet(inDir),
          store, numBuckets = 16)
        .option("checkpointLocation", ckpt).start().awaitTermination()
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      val n = graft.engine.Sinks.readUpsertStore(spark, store).count()
      println(f"STREAMSOAK media trigger $b%2d  dur $dt%7.2f s   store=$n%8d")
      dt
    }
    println(s"STREAMSOAK media pre-compact  chk=(${chk(store)})")
    // the one-shot control: all batches in ONE drain into a fresh store
    val oneStore = s"$work/store_oneshot"
    val t1 = System.nanoTime()
    graft.streaming.Streaming.mediaNearDupSuppressSink(
        spark.readStream.schema(mediaSchema)
          .option("maxFilesPerTrigger", 4 * nBatches).parquet(inDir),
        oneStore, numBuckets = 16)
      .option("checkpointLocation", s"$work/ckpt_oneshot").start().awaitTermination()
    val oneS = (System.nanoTime() - t1) / 1e9
    spark.catalog.clearCache()
    val oneChk = chk(oneStore)
    // the compact, measured + its idempotence rerun
    val c0 = System.nanoTime()
    val nDem = graft.streaming.Streaming.compactMediaStore(spark, store)
    val compactS = (System.nanoTime() - c0) / 1e9
    spark.catalog.clearCache()
    val c1 = System.nanoTime()
    val nDem2 = graft.streaming.Streaming.compactMediaStore(spark, store)
    val compact2S = (System.nanoTime() - c1) / 1e9
    spark.catalog.clearCache()
    val postChk = chk(store)
    println(f"STREAMSOAK media compact dur $compactS%7.2f s demoted=$nDem%d; rerun dur $compact2S%7.2f s demoted=$nDem2%d")
    println(s"STREAMSOAK media post-compact chk=($postChk) oneshot=($oneChk) " +
      s"converged=${postChk == oneChk} oneshot_dur=${f"$oneS%.2f"}s")
    println(f"STREAMSOAK media summary first=${triggerS.head}%.2f last=${triggerS.last}%.2f " +
      f"median=${triggerS.sorted.apply(triggerS.size / 2)}%.2f compact=$compactS%.2f")
  }
}
