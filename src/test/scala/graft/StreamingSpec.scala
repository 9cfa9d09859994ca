package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.engine.Sinks
import graft.queries.MultimodalQueries
import graft.streaming.Streaming

/** W2: streaming dedup / window / upsert over a file source, driven with
  * Trigger.AvailableNow (public API only — no internal MemoryStream). */
class StreamingSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("city", StringType),
    StructField("ts", TimestampType),
    StructField("value", DoubleType)))

  private def tmpDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d
  }

  private def writeBatch(dir: Path, name: String, lines: Seq[String]): Unit =
    Files.writeString(dir.resolve(name), lines.mkString("\n"))

  test("streaming dedup drops repeated (city,ts) keys across micro-batches") {
    val in = tmpDir("stream_in")
    writeBatch(in, "b1.json", Seq(
      """{"city":"delhi","ts":"2025-12-11T00:00:00Z","value":10.0}""",
      """{"city":"delhi","ts":"2025-12-11T00:00:00Z","value":11.0}""",
      """{"city":"mumbai","ts":"2025-12-11T00:00:00Z","value":20.0}"""))
    writeBatch(in, "b2.json", Seq(
      """{"city":"delhi","ts":"2025-12-11T00:00:00Z","value":12.0}""",
      """{"city":"delhi","ts":"2025-12-11T01:00:00Z","value":13.0}"""))
    val stream = Streaming.jsonFileStream(spark, schema, in.toString + "/*.json", multiLine = false)
    val deduped = Streaming.dedupByKey(stream, "ts", "2 hours", Seq("city", "ts"))
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val rows = spark.table("dedup_out").collect()
    // 3 distinct (city,ts) keys survive regardless of duplicate count
    assert(rows.length == 3, rows.mkString(";"))
    assert(rows.map(_.getAs[String]("city")).count(_ == "delhi") == 2)
  }

  test("streaming near-dup suppression: dedup on the minhash signature at ingest") {
    // the ingest-time form of near-dup dedup: key the stream by the
    // compiled MinHash signature, so re-landed copies (and trivial
    // re-serializations) of a document are dropped inside the
    // watermark horizon — composing the batch kernel with the
    // streaming dedup operator, no new machinery
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("ts", TimestampType),
      StructField("text", StringType)))
    val in = tmpDir("stream_neardup")
    writeBatch(in, "b1.json", Seq(
      """{"doc_id":1,"ts":"2025-12-11T00:00:00Z","text":"the quick brown fox jumps over the dog"}""",
      """{"doc_id":2,"ts":"2025-12-11T00:01:00Z","text":"an entirely different document body here"}"""))
    writeBatch(in, "b2.json", Seq(
      """{"doc_id":3,"ts":"2025-12-11T00:02:00Z","text":"the quick brown fox jumps over the dog"}""",
      """{"doc_id":4,"ts":"2025-12-11T00:03:00Z","text":"a third distinct body of text entirely"}"""))
    val stream = Streaming.jsonFileStream(spark, docSchema, in.toString + "/*.json", multiLine = false)
      .withColumn("sig", graft.expressions.Exprs.minhashSig(col("text")))
      // null-guard: sig is null for sub-3-token docs and dropDuplicates
      // treats null keys as EQUAL — fall back to the exact text hash so
      // distinct short docs are not collapsed into one
      .withColumn("short_key", when(col("sig").isNull, md5(col("text"))).otherwise(""))
    val deduped = Streaming.dedupByKey(stream, "ts", "2 hours", Seq("sig", "short_key"))
    val q = deduped.writeStream.format("memory").queryName("neardup_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val kept = spark.table("neardup_out").select("doc_id").collect().map(_.getLong(0)).sorted
    // doc 3 is a replica of doc 1's signature and is suppressed
    assert(kept.length == 3 && !kept.contains(3L), kept.mkString(","))
  }

  test("banded store probe suppresses a PERTURBED near-duplicate late arrival") {
    // the true streaming form of q42: the late arrival's signature
    // DIFFERS from the original (signature-equality dedup cannot catch
    // it) but collides in >= 1 LSH band with the accumulated store
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("ts", TimestampType),
      StructField("text", StringType)))
    val original = "the quick brown fox jumps over the lazy dog while the calm " +
      "river flows past the old stone bridge at dawn"
    val perturbed = original.replace("calm", "quiet") // 7/8 minhash matches
    val in = tmpDir("stream_probe_in")
    val ckpt = tmpDir("stream_probe_ckpt").toString
    val store = tmpDir("stream_probe_store").resolve("docs").toString
    writeBatch(in, "b1.json", Seq(
      s"""{"doc_id":1,"ts":"2025-12-11T00:00:00Z","text":"$original"}""",
      """{"doc_id":2,"ts":"2025-12-11T00:01:00Z","text":"an entirely different document body about ships and harbors"}""",
      """{"doc_id":6,"ts":"2025-12-11T00:02:00Z","text":"too short"}"""))
    def runOnce(): Unit = {
      val stream = Streaming.jsonFileStream(spark, docSchema, in.toString + "/*.json", multiLine = false)
      val q = Streaming.nearDupSuppressSink(stream, store, numBuckets = 8)
        .option("checkpointLocation", ckpt).start()
      q.awaitTermination(60000)
    }
    runOnce()
    assert(Sinks.readUpsertStore(spark, store).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 6L))
    // the perturbed arrival really is a different-signature near-dup
    import spark.implicits._
    val sigs = Seq(original, perturbed).toDF("text")
      .select(graft.expressions.Exprs.minhashSig(col("text")).as("sig"))
      .collect().map(_.getSeq[Long](0))
    val nMatch = sigs(0).zip(sigs(1)).count { case (a, b) => a == b }
    assert(sigs(0) != sigs(1), "perturbation must change the signature")
    assert(nMatch >= 4, s"perturbation must stay est_sim >= 0.5 (got $nMatch/8)")
    // late batch: the perturbed near-dup (3), a fresh doc (4), an exact
    // text copy of doc 2 under a new id (5), and a copy of the short
    // doc under a new id (7) — the checkpoint guarantees this batch is
    // processed WITHOUT doc 1/2/6 alongside, so only the store probe
    // can do the suppressing
    writeBatch(in, "b2.json", Seq(
      s"""{"doc_id":3,"ts":"2025-12-11T01:00:00Z","text":"$perturbed"}""",
      """{"doc_id":4,"ts":"2025-12-11T01:01:00Z","text":"a completely fresh subject concerning mountain weather patterns and climbing routes"}""",
      """{"doc_id":5,"ts":"2025-12-11T01:02:00Z","text":"an entirely different document body about ships and harbors"}""",
      """{"doc_id":7,"ts":"2025-12-11T01:03:00Z","text":"too short"}"""))
    runOnce()
    val kept = Sinks.readUpsertStore(spark, store).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 2L, 4L, 6L),
      s"3 (near-dup), 5 (exact copy), 7 (short dup) must be suppressed; got $kept")
  }

  test("streaming tumbling-hour mean matches the batch q08 expression") {
    val in = tmpDir("stream_win")
    writeBatch(in, "b1.json", Seq(
      """{"city":"delhi","ts":"2025-12-11T00:10:00Z","value":10.0}""",
      """{"city":"delhi","ts":"2025-12-11T00:50:00Z","value":20.0}""",
      """{"city":"delhi","ts":"2025-12-11T01:10:00Z","value":30.0}"""))
    val stream = Streaming.jsonFileStream(spark, schema, in.toString + "/*.json", multiLine = false)
    val agg = Streaming.hourlyAvg(stream, "ts", "2 hours", "city", "value")
    val q = agg.writeStream.format("memory").queryName("win_out")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val rows = spark.table("win_out").orderBy(col("hour_start")).collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[Double]("avg_value") == 15.0 && rows(0).getAs[Long]("n") == 2L)
    assert(rows(1).getAs[Double]("avg_value") == 30.0 && rows(1).getAs[Long]("n") == 1L)
  }

  test("hll register sink: stream-final registers equal the batch sketch, redelivery is free") {
    import spark.implicits._
    val in = tmpDir("hll_in")
    val store = tmpDir("hll_store").toString + "/regs"
    val keys1 = (1 to 400).map(i => s"k$i")
    val keys2 = (300 to 700).map(i => s"k$i") // overlaps 300..400 with batch 1
    def json(ks: Seq[String]) = ks.map(k =>
      s"""{"city":"$k","ts":"2025-12-11T00:00:00Z","value":1.0}""")
    writeBatch(in, "b1.json", json(keys1))
    val stream1 = Streaming.jsonFileStream(spark, schema, in.toString + "/*.json", multiLine = false)
    val ck1 = tmpDir("hll_ck").toString
    Streaming.hllRegisterSink(stream1, "city", store, b = 8)
      .option("checkpointLocation", ck1).start().awaitTermination()
    writeBatch(in, "b2.json", json(keys2))
    val stream2 = Streaming.jsonFileStream(spark, schema, in.toString + "/*.json", multiLine = false)
    Streaming.hllRegisterSink(stream2, "city", store, b = 8)
      .option("checkpointLocation", ck1).start().awaitTermination()
    val got = spark.read.parquet(store).select(col("regs")).as[Array[Long]].collect().head
    val want = (keys1 ++ keys2).distinct.toDF("k").as[String]
      .select(new graft.ext.HllAgg(8).toColumn).collect().head
    assert(got.toSeq == want.toSeq,
      "incremental max-merge must equal the one-shot batch sketch")
    // full REPLAY from a fresh checkpoint re-delivers everything: the
    // idempotent merge leaves the store unchanged
    val stream3 = Streaming.jsonFileStream(spark, schema, in.toString + "/*.json", multiLine = false)
    Streaming.hllRegisterSink(stream3, "city", store, b = 8)
      .option("checkpointLocation", tmpDir("hll_ck2").toString).start().awaitTermination()
    val replayed = spark.read.parquet(store).select(col("regs")).as[Array[Long]].collect().head
    assert(replayed.toSeq == want.toSeq, "replay must be a no-op on the registers")
  }

  test("hll register sink: merges against a store stranded at _old by a crashed upsert") {
    import spark.implicits._
    val in = tmpDir("hll_orphan_in")
    val store = tmpDir("hll_orphan_store").toString + "/regs"
    def json(ks: Seq[String]) = ks.map(k =>
      s"""{"city":"$k","ts":"2025-12-11T00:00:00Z","value":1.0}""")
    val keys1 = (1 to 300).map(i => s"a$i")
    writeBatch(in, "b1.json", json(keys1))
    val s1 = Streaming.jsonFileStream(spark, schema, in.toString + "/*.json", multiLine = false)
    Streaming.hllRegisterSink(s1, "city", store, b = 8)
      .option("checkpointLocation", tmpDir("hll_orphan_ck1").toString).start().awaitTermination()
    // simulate a writer that died between its two swap renames: the
    // whole store sits at <path>_old, nothing at <path>
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(store),
      new org.apache.hadoop.fs.Path(store + "_old")))
    // a new batch with ONLY fresh keys (separate input dir — the sink
    // must not get keys1 back through the source) must MERGE with the
    // orphaned state, not overwrite it with batch-only registers
    val in2 = tmpDir("hll_orphan_in2")
    val keys2 = (1 to 300).map(i => s"b$i")
    writeBatch(in2, "b2.json", json(keys2))
    val s2 = Streaming.jsonFileStream(spark, schema, in2.toString + "/*.json", multiLine = false)
    Streaming.hllRegisterSink(s2, "city", store, b = 8)
      .option("checkpointLocation", tmpDir("hll_orphan_ck2").toString).start().awaitTermination()
    val got = spark.read.parquet(store).select(col("regs")).as[Array[Long]].collect().head
    val want = (keys1 ++ keys2).toDF("k").as[String]
      .select(new graft.ext.HllAgg(8).toColumn).collect().head
    assert(got.toSeq == want.toSeq,
      "post-crash merge must see the orphaned registers, not start from empty")
  }

  test("foreachBatch upsert sink: last write wins per key across restarts") {
    val in = tmpDir("stream_upsert_in")
    val target = tmpDir("stream_upsert_out").resolve("table").toString
    writeBatch(in, "b1.json", Seq(
      """{"city":"delhi","ts":"2025-12-11T00:00:00Z","value":10.0}""",
      """{"city":"mumbai","ts":"2025-12-11T00:00:00Z","value":20.0}"""))
    def runOnce(): Unit = {
      val stream = Streaming.jsonFileStream(spark, schema, in.toString + "/*.json", multiLine = false)
        .withColumn("ingest_seq", col("value")) // deterministic recency proxy
      val q = Streaming.upsertSink(stream, target, Seq("city"), Some("ingest_seq")).start()
      q.awaitTermination(60000)
    }
    runOnce()
    assert(spark.read.parquet(target).count() == 2)
    // second run re-reads b1 (fresh checkpoint) plus a new file with a
    // higher recency for delhi -> delhi row replaced, mumbai kept once
    writeBatch(in, "b2.json", Seq(
      """{"city":"delhi","ts":"2025-12-11T02:00:00Z","value":99.0}"""))
    runOnce()
    val out = spark.read.parquet(target).orderBy("city").collect()
    assert(out.length == 2, out.mkString(";"))
    assert(out(0).getAs[String]("city") == "delhi" && out(0).getAs[Double]("value") == 99.0)
    assert(out(1).getAs[String]("city") == "mumbai" && out(1).getAs[Double]("value") == 20.0)
  }

  test("flatMapGroupsWithState sessionization closes sessions at the gap") {
    val in = tmpDir("stream_sess")
    // delhi: two sessions (gap > 30 min between 00:10 and 01:00);
    // mumbai: one two-event session. A late high-watermark event
    // advances event time so earlier sessions time out and emit.
    writeBatch(in, "b1.json", Seq(
      """{"city":"delhi","ts":"2025-12-11T00:00:00Z","value":1.0}""",
      """{"city":"delhi","ts":"2025-12-11T00:10:00Z","value":1.0}""",
      """{"city":"delhi","ts":"2025-12-11T01:00:00Z","value":1.0}""",
      """{"city":"mumbai","ts":"2025-12-11T00:00:00Z","value":1.0}""",
      """{"city":"mumbai","ts":"2025-12-11T00:05:00Z","value":1.0}""",
      """{"city":"watermark_pusher","ts":"2025-12-11T09:00:00Z","value":1.0}"""))
    val stream = Streaming.jsonFileStream(spark, schema, in.toString + "/*.json", multiLine = false)
    val sessions = Streaming.sessionize(spark, stream, "city", "ts",
      watermark = "1 minute", gapUs = 30L * 60 * 1000000)
    val q = sessions.writeStream.format("memory").queryName("sess_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val rows = spark.table("sess_out")
      .orderBy(col("key"), col("sessionStartUs")).collect()
      .map(r => (r.getString(0), r.getLong(2) / 60000000L, r.getLong(3)))
    // (key, duration_minutes, n_events); within-batch gap closure emits
    // delhi's first session even before any timeout fires
    assert(rows.contains(("delhi", 10L, 2L)), rows.mkString(";"))
  }

  test("sessionize state survives a full query restart (q111's device, hand corpus)") {
    // drain 1 opens a session for delhi (2 events, still open at drain
    // end); drain 2 RESTARTS the query on the same checkpoint and
    // delivers an in-gap extension plus a past-gap closer. The closed
    // session must span BOTH drains: start at drain 1's first event,
    // 3 events total — provable only if the open-session state was
    // persisted in the state store and restored on restart (a state
    // loss would emit a 1-event session starting at drain 2's event).
    val in = tmpDir("sess_restart_in")
    val out = tmpDir("sess_restart_out").toString
    val ck = tmpDir("sess_restart_ck").toString
    def drain(): Unit = {
      val stream = Streaming.jsonFileStream(spark, schema, in.toString + "/*.json",
        multiLine = false)
      val q = Streaming.sessionize(spark, stream, "city", "ts",
          watermark = "365 days", gapUs = 30L * 60 * 1000000)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    writeBatch(in, "b1.json", Seq(
      """{"city":"delhi","ts":"2025-12-11T00:00:00Z","value":1.0}""",
      """{"city":"delhi","ts":"2025-12-11T00:10:00Z","value":1.0}"""))
    drain()
    writeBatch(in, "b2.json", Seq(
      """{"city":"delhi","ts":"2025-12-11T00:25:00Z","value":1.0}""",
      """{"city":"delhi","ts":"2025-12-11T09:00:00Z","value":1.0}"""))
    drain()
    val rows = spark.read.parquet(out).collect()
      .map(r => (r.getAs[String]("key"), r.getAs[Long]("sessionStartUs"),
        r.getAs[Long]("durationUs") / 60000000L, r.getAs[Long]("nEvents")))
    val startUs = java.time.Instant.parse("2025-12-11T00:00:00Z").toEpochMilli * 1000L
    assert(rows.toSeq == Seq(("delhi", startUs, 25L, 3L)),
      s"the cross-restart session must close as (start=b1, 25 min, 3 events): ${rows.mkString(";")}")
  }

  test("sessionize timeout branch: watermark passage emits-and-removes via hasTimedOut (q120's regime)") {
    // The branch q111 deliberately never executes: a key with NO data
    // in the batch whose state horizon the watermark passed must emit
    // its open session and REMOVE the state. Three drains on one
    // checkpoint: drain 1 opens delhi's session; drain 2 is a far-
    // future sentinel (advances the high-water mark past delhi's
    // horizon AFTER the batch — nothing may emit yet); drain 3 is
    // another sentinel, and ONLY during its batch does the operator
    // see a watermark above delhi's horizon with no delhi data — the
    // exact hasTimedOut invocation. Emit count per drain pins both the
    // when and the remove (a lost remove would re-emit in drain 3+).
    val in = tmpDir("sess_timeout_in")
    val out = tmpDir("sess_timeout_out").toString
    val ck = tmpDir("sess_timeout_ck").toString
    // delhi rows only: the sentinel's own sessions data-close along the
    // way and are not the subject here
    def drain(): Long = {
      val stream = Streaming.jsonFileStream(spark, schema, in.toString + "/*.json",
        multiLine = false)
      val q = Streaming.sessionize(spark, stream, "city", "ts",
          watermark = "1 minute", gapUs = 30L * 60 * 1000000)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      spark.read.parquet(out).where(col("key") === "delhi").count()
    }
    writeBatch(in, "b1.json", Seq(
      """{"city":"delhi","ts":"2025-12-11T00:00:00Z","value":1.0}""",
      """{"city":"delhi","ts":"2025-12-11T00:10:00Z","value":1.0}"""))
    assert(drain() == 0L, "no gap crossed, no timeout: nothing may emit in drain 1")
    writeBatch(in, "b2.json", Seq(
      """{"city":"zz","ts":"2025-12-13T00:00:00Z","value":1.0}"""))
    // the sentinel batch itself runs with drain 1's watermark (00:09 —
    // below delhi's 00:40 horizon), but AvailableNow then runs a
    // NO-DATA batch under the advanced watermark (Dec 13 - 1min, see
    // spark.sql.streaming.noDataMicroBatches.enabled): delhi has no
    // data there and its horizon is passed — the exact hasTimedOut
    // invocation, inside the same drain
    assert(drain() == 1L, "the no-data batch after the sentinel must fire the timeout emission")
    val r = spark.read.parquet(out).where(col("key") === "delhi").collect()
      .map(r => (r.getAs[String]("key"), r.getAs[Long]("sessionStartUs"),
        r.getAs[Long]("durationUs") / 60000000L, r.getAs[Long]("nEvents")))
    val startUs = java.time.Instant.parse("2025-12-11T00:00:00Z").toEpochMilli * 1000L
    assert(r.toSeq == Seq(("delhi", startUs, 10L, 2L)),
      s"the timed-out session must carry its true (start, duration, count): ${r.mkString(";")}")
    // next drain: a NEW delhi event after the removal — state must be
    // gone (a fresh 1-event session opens; the old one must NOT
    // re-emit, and its own horizon is above the drain-end watermark)
    writeBatch(in, "b4.json", Seq(
      """{"city":"delhi","ts":"2025-12-16T00:00:00Z","value":1.0}"""))
    assert(drain() == 1L, "removed state must not re-emit on the key's return")
    // one more sentinel advances the watermark past the new horizon:
    // its no-data batch times the returned key's session out
    writeBatch(in, "b5.json", Seq(
      """{"city":"zz","ts":"2025-12-20T00:00:00Z","value":1.0}"""))
    assert(drain() == 2L, "the sentinel's no-data batch times the returned key's session out")
    val finalRows = spark.read.parquet(out).collect()
      .map(r => (r.getAs[String]("key"), r.getAs[Long]("nEvents")))
      .filter(_._1 == "delhi").sortBy(_._2)
    assert(finalRows.toSeq == Seq(("delhi", 1L), ("delhi", 2L)),
      s"exactly the two delhi sessions, each emitted once: ${finalRows.mkString(";")}")
  }

  test("10x soak: streaming dedup + upsert store feeds batch curation identically to pure batch") {
    // end-to-end at 10x duplication: a worst-case corpus (every sf0.001
    // document landed 10 times with offset ids, one slice re-delivered
    // verbatim) flows through dedupByKey (exactly-once per doc_id,
    // dropping the re-delivery) into upsertSink keyed on the CONTENT
    // hash with min-doc_id-wins — the streaming form of q40 exact dedup.
    // The resulting store must make batch q37 produce exactly what it
    // produces on the raw 10x corpus (its own exact-dedup stage is
    // idempotent on an already-deduped store).
    import graft.engine.Tables
    val base = Tables.documents(spark, "/root/testdata/sf0.001")
    val reps = 10
    val tenX = (0 until reps).map(r =>
      base.withColumn("doc_id", col("doc_id") + lit(r * 10000000L))).reduce(_ unionAll _)
    val rawDir = tmpDir("soak_raw").toString
    tenX.write.mode("overwrite").parquet(s"$rawDir/documents.parquet")
    val inDir = tmpDir("soak_stream_in").toString
    tenX.repartition(4).write.mode("overwrite").parquet(inDir)
    // re-delivery: the same rows (same doc_ids) landed again in a new file
    base.limit(50).write.mode("append").parquet(inDir)
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val target = tmpDir("soak_store").resolve("documents").toString
    val stream = Streaming.parquetFileStream(spark, docSchema, inDir)
      .withColumn("ts", to_timestamp(lit("2025-12-11 00:00:00")))
    val deduped = Streaming.dedupByKey(stream, "ts", "1 hour", Seq("doc_id"))
      .withColumn("h", md5(col("text")))
      .withColumn("neg_id", -col("doc_id")) // upsert keeps MAX orderCol = min doc_id
    val q = Streaming.upsertSink(deduped, target, Seq("h"), Some("neg_id")).start()
    q.awaitTermination(120000)
    val store = spark.read.parquet(target)
    // survivor ids == batch exact-dedup canonical set, min-id pick included
    val canonical = tenX.groupBy(md5(col("text"))).agg(min(col("doc_id")).as("doc_id"))
    assert(store.count() == canonical.count())
    assert(store.select(col("doc_id")).exceptAll(canonical.select(col("doc_id"))).count() == 0)
    // batch curation over the streamed store == batch curation over raw 10x
    val curatedDir = tmpDir("soak_curated").toString
    store.select(docSchema.fieldNames.map(col): _*)
      .write.mode("overwrite").parquet(s"$curatedDir/documents.parquet")
    val viaStream = SparkEntry.queries("q37_curation_pipeline")(spark, curatedDir)
    val pureBatch = SparkEntry.queries("q37_curation_pipeline")(spark, rawDir)
    assert(viaStream.exceptAll(pureBatch).count() == 0 &&
      pureBatch.exceptAll(viaStream).count() == 0)
    spark.catalog.clearCache() // q37 persists its signature table
  }

  test("10x soak: streaming near-dup ingest equals the batch dedup formulation") {
    // the nearDupSuppressSink at worst-case duplication scale: every
    // sf0.001 doc landed 10 times under distinct ids. The admitted set
    // must equal the batch formulation computed directly: exact-dedup
    // winners (min doc_id per content hash) minus LSH near-dup losers
    // among them — i.e. the stream path and the batch path agree on
    // 10x-replicated data end-to-end.
    import graft.engine.Tables
    val base = Tables.documents(spark, "/root/testdata/sf0.001")
    val tenX = (0 until 10).map(r =>
      base.withColumn("doc_id", col("doc_id") + lit(r * 10000000L))).reduce(_ unionAll _)
    val inDir = tmpDir("neardup_soak_in").toString
    tenX.repartition(4).write.mode("overwrite").parquet(inDir)
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val store = tmpDir("neardup_soak_store").resolve("docs").toString
    val q = Streaming.nearDupSuppressSink(
      Streaming.parquetFileStream(spark, docSchema, inDir), store).start()
    q.awaitTermination(120000)
    val admitted = Sinks.readUpsertStore(spark, store).select("doc_id")
    // batch formulation over the same corpus
    val canonical = tenX.groupBy(md5(col("text"))).agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val canonSigs = tenX.join(canonical, Seq("doc_id"), "left_semi")
      .where(size(graft.ext.TextOps.tokens(col("text"))) >= 3)
      .withColumn("s", graft.expressions.Exprs.minhashSig(col("text")))
      .select(col("doc_id") +: (0 until 8).map(k =>
        element_at(col("s"), k + 1).as(s"h$k")): _*)
    val losers = graft.queries.TextQueries.lshPairsOf(canonSigs)
      .select(col("doc_b").as("doc_id")).distinct()
    val expected = canonical.join(losers, Seq("doc_id"), "left_anti")
    assert(admitted.exceptAll(expected).count() == 0 &&
      expected.exceptAll(admitted).count() == 0,
      "streamed near-dup ingest must admit exactly the batch survivor set")
    spark.catalog.clearCache()
  }

  test("incremental curation: N micro-batches equal one batch curatedDocsOf over the union") {
    // the full staged pipeline in micro-batch form — URL blocklist,
    // exact dedup, near-dup removal, quality floor — with state in the
    // seen-signature store and output in the curated store. The corpus
    // is built to exercise every cross-batch path:
    //   within-batch exact dup (3 of 2), cross-batch exact dup (7 of 2),
    //   cross-batch exact dup of a SHORT null-sig doc (10 of 5),
    //   within-batch near-dup (9 of 8), cross-batch near-dup via the
    //   seen store (12 of 9), blocked URLs (4, 14 — subdomain match),
    //   quality failures (1, 13), and the TRANSITIVE case: 6 is a
    //   near-dup of 1, which itself fails quality — 6 must still be
    //   suppressed, which only works because the seen store keeps
    //   signatures of docs the curated store rejected.
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("ts", TimestampType),
      StructField("text", StringType)))
    // all-stopword, punctuation-free: quality ~0.30, signature present
    val lowQ = "the of and to is in the to of and in is to the and of in " +
      "to and the is of in and to of the in the of"
    val lowQPerturbed = lowQ.replaceFirst("in is to", "in was to")
    val docA = "ancient mariners navigated treacherous waters using celestial " +
      "observations and careful measurements of coastal landmarks during long voyages"
    val docB = "granite peaks rise sharply above turquoise alpine lakes where " +
      "marmots whistle across sunlit boulder fields under morning skies"
    val docB1 = docB.replace("marmots", "ridges")
    val docB2 = docB1.replace("turquoise", "emerald")
    val docC = "quantum processors entangle photons through superconducting " +
      "circuits enabling remarkable computational breakthroughs beyond classical limits"
    val short = "wonderful landscapes"
    // sanity: the intended near-dup edges really are est_sim >= 0.5, really
    // have DIFFERENT signatures (so only the banded probe can catch them —
    // signature equality cannot), AND really collide in at least one
    // aligned 2-hash band — lshPairsOf generates candidates from band
    // buckets, so >=4/8 matching *positions* alone proves nothing about
    // candidate generation (the round-12 red test learned this the hard
    // way: its pair had 4 scattered position matches and zero aligned
    // bands, so the "near-dup" edge never existed).
    import spark.implicits._
    def sigOf(t: String): Seq[Long] = Seq(t).toDF("text")
      .select(graft.expressions.Exprs.minhashSig(col("text")).as("s"))
      .collect().head.getSeq[Long](0)
    Seq(lowQ -> lowQPerturbed, docB -> docB1, docB1 -> docB2).foreach { case (a, b) =>
      val (sa, sb) = (sigOf(a), sigOf(b))
      assert(sa != sb, "perturbation must change the signature")
      val n = sa.zip(sb).count { case (x, y) => x == y }
      assert(n >= 4, s"perturbed pair must stay est_sim >= 0.5 (got $n/8)")
      val bandHit = (0 until 4).exists(k =>
        sa(2 * k) == sb(2 * k) && sa(2 * k + 1) == sb(2 * k + 1))
      assert(bandHit,
        "perturbed pair must share an aligned 2-hash band, or the LSH " +
          s"probe can never see it (sigs ${sa.mkString(",")} vs ${sb.mkString(",")})")
    }
    def row(id: Long, min: Int, text: String): String =
      f"""{"doc_id":$id%d,"ts":"2025-12-11T00:$min%02d:00Z","text":"$text%s"}"""
    val in = tmpDir("inc_curation_in")
    val ckpt = tmpDir("inc_curation_ckpt").toString
    val curated = tmpDir("inc_curation_store").resolve("curated").toString
    val sigs = tmpDir("inc_curation_store").resolve("seen_sigs").toString
    val stages = graft.queries.TextQueries.CurationStages(
      blockedDomains = Seq("bad.example.com"), qualityFloor = 0.5)
    def runOnce(): Unit = {
      val stream = Streaming.jsonFileStream(spark, docSchema, in.toString + "/*.json", multiLine = false)
      val q = Streaming.incrementalCurationSink(stream, curated, sigs, stages, numBuckets = 8)
        .option("checkpointLocation", ckpt).start()
      q.awaitTermination(120000)
    }
    writeBatch(in, "b1.json", Seq(
      row(1, 0, lowQ),
      row(2, 1, docA),
      row(3, 2, docA), // within-batch exact dup
      row(4, 3, "read this report at https://bad.example.com/x for details"),
      row(5, 4, short)))
    runOnce()
    writeBatch(in, "b2.json", Seq(
      row(6, 10, lowQPerturbed), // near-dup of 1, which failed quality
      row(7, 11, docA),          // cross-batch exact dup
      row(8, 12, docB),
      row(9, 13, docB1),         // within-batch near-dup of 8
      row(10, 14, short)))       // cross-batch exact dup, null signature
    runOnce()
    writeBatch(in, "b3.json", Seq(
      row(11, 20, docC),
      row(12, 21, docB2),        // cross-batch near-dup via the seen store
      row(13, 22, "a, b, c, d! e? f."), // quality failure
      row(14, 23, "more content at https://sub.bad.example.com/page here")))
    runOnce()
    val got = Sinks.readUpsertStore(spark, curated)
      .select("doc_id", "ts", "text", "quality").orderBy("doc_id").collect()
    val union = spark.read.schema(docSchema).json(in.toString + "/*.json")
    val want = graft.queries.TextQueries.curatedDocsOf(union, stages)
      .select("doc_id", "ts", "text", "quality").orderBy("doc_id").collect()
    assert(got.toSeq == want.toSeq,
      s"streamed store must equal one batch run over the union:\n got ${got.mkString(";")}\nwant ${want.mkString(";")}")
    val ids = got.map(_.getLong(0)).toSeq
    assert(ids == Seq(2L, 5L, 8L, 11L), s"expected survivors 2,5,8,11; got $ids")
    // the transitive case held: 6 suppressed by a doc that is itself absent
    assert(!ids.contains(6L) && !ids.contains(1L))
    // replay safety: re-running with no new files changes nothing
    runOnce()
    val again = Sinks.readUpsertStore(spark, curated).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(again == ids, s"idle re-run must be a no-op: $again")
  }

  test("compact pass: out-of-order near-dup admissions converge to the batch answer") {
    // the sink's ONE documented out-of-order edge: a late arrival with
    // an id BELOW its already-admitted near-duplicate passes the store
    // probe (whose doc_b < doc_a guard is what crash-replay safety
    // requires), so the curated store holds both near-copies. One
    // compactCuratedStore pass must converge the store to the batch
    // answer, stay idempotent, and leave the SEEN store's suppression
    // evidence intact for future triggers.
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("ts", TimestampType),
      StructField("text", StringType)))
    val docA = "ancient mariners navigated treacherous waters using celestial " +
      "observations and careful measurements of coastal landmarks during long voyages"
    val docB = "granite peaks rise sharply above turquoise alpine lakes where " +
      "marmots whistle across sunlit boulder fields under morning skies"
    val docB1 = docB.replace("marmots", "ridges")
    val docB2 = docB1.replace("turquoise", "emerald")
    val docC = "quantum processors entangle photons through superconducting " +
      "circuits enabling remarkable computational breakthroughs beyond classical limits"
    def row(id: Long, min: Int, text: String): String =
      f"""{"doc_id":$id%d,"ts":"2025-12-11T00:$min%02d:00Z","text":"$text%s"}"""
    val in = tmpDir("compact_in")
    val ckpt = tmpDir("compact_ckpt").toString
    val curated = tmpDir("compact_store").resolve("curated").toString
    val sigs = tmpDir("compact_store").resolve("seen_sigs").toString
    val stages = graft.queries.TextQueries.CurationStages(qualityFloor = 0.5)
    def runOnce(): Unit = {
      val stream = Streaming.jsonFileStream(spark, docSchema, in.toString + "/*.json", multiLine = false)
      val q = Streaming.incrementalCurationSink(stream, curated, sigs, stages, numBuckets = 8)
        .option("checkpointLocation", ckpt).start()
      q.awaitTermination(120000)
    }
    // higher ids arrive FIRST...
    writeBatch(in, "b1.json", Seq(row(20, 0, docB1), row(17, 1, docA)))
    runOnce()
    // ...then the lower-id near-dup of the admitted 20 (the edge)
    writeBatch(in, "b2.json", Seq(row(15, 10, docB), row(18, 11, docC)))
    runOnce()
    val beforeIds = Sinks.readUpsertStore(spark, curated)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(beforeIds == Set(15L, 17L, 18L, 20L),
      s"the edge must reproduce (both near-copies admitted): $beforeIds")
    // one compact: the batch loser (higher id 20 of the 15-20 pair) goes
    val n = Streaming.compactCuratedStore(spark, curated, sigs)
    assert(n == 1L, s"compact should remove exactly doc 20, removed $n")
    val union = spark.read.schema(docSchema).json(in.toString + "/*.json")
    val want = graft.queries.TextQueries.curatedDocsOf(union, stages)
      .select("doc_id", "ts", "text", "quality").orderBy("doc_id").collect()
    val got = Sinks.readUpsertStore(spark, curated)
      .select("doc_id", "ts", "text", "quality").orderBy("doc_id").collect()
    assert(got.toSeq == want.toSeq,
      s"compacted store must equal the batch answer:\n got ${got.mkString(";")}\nwant ${want.mkString(";")}")
    assert(got.map(_.getLong(0)).toSeq == Seq(15L, 17L, 18L))
    // idempotent: a second compact finds nothing to do
    assert(Streaming.compactCuratedStore(spark, curated, sigs) == 0L)
    // the seen store keeps EVERY signature, loser's included...
    val sigIds = Sinks.readUpsertStore(spark, sigs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(sigIds == Set(15L, 17L, 18L, 20L),
      s"compact must not touch the seen store: $sigIds")
    // ...so post-compact triggers still suppress via the removed doc's
    // signature (25 = docB2, a near-dup of the COMPACTED-AWAY 20)
    writeBatch(in, "b3.json", Seq(row(25, 20, docB2)))
    runOnce()
    val after = Sinks.readUpsertStore(spark, curated)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(after == Set(15L, 17L, 18L),
      s"the seen store's suppression evidence must survive the compact: $after")
  }

  test("compact pass: out-of-order EXACT admissions converge to the batch answer") {
    // the gap the r15 lower-id admission rule closed: a late EXACT copy
    // with an id below its already-admitted duplicate used to be
    // suppressed with its row never stored, so batch's min-id canonical
    // (whose COLUMNS differ from the stored higher-id copy's — here the
    // ts) could not be restored by any compact. Under the lower-id
    // guard the late canonical is admitted, both copies coexist per
    // trigger, and one compact converges to the batch answer — columns
    // included. A replayed batch must still be idempotent.
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("ts", TimestampType),
      StructField("text", StringType)))
    val docA = "ancient mariners navigated treacherous waters using celestial " +
      "observations and careful measurements of coastal landmarks during long voyages"
    val docC = "quantum processors entangle photons through superconducting " +
      "circuits enabling remarkable computational breakthroughs beyond classical limits"
    val short = "wonderful landscapes" // sub-3-token: null signature, th-only dedup
    def row(id: Long, min: Int, text: String): String =
      f"""{"doc_id":$id%d,"ts":"2025-12-11T00:$min%02d:00Z","text":"$text%s"}"""
    val in = tmpDir("compact_exact_in")
    val ckpt = tmpDir("compact_exact_ckpt").toString
    val curated = tmpDir("compact_exact_store").resolve("curated").toString
    val sigs = tmpDir("compact_exact_store").resolve("seen_sigs").toString
    val stages = graft.queries.TextQueries.CurationStages(qualityFloor = 0.5)
    def runOnce(): Unit = {
      val stream = Streaming.jsonFileStream(spark, docSchema, in.toString + "/*.json", multiLine = false)
      val q = Streaming.incrementalCurationSink(stream, curated, sigs, stages, numBuckets = 8)
        .option("checkpointLocation", ckpt).start()
      q.awaitTermination(120000)
    }
    // higher ids arrive FIRST (both signature-bearing and null-sig texts)
    writeBatch(in, "b1.json", Seq(row(30, 0, docA), row(40, 1, short), row(35, 2, docC)))
    runOnce()
    // ...then the lower-id EXACT copies (distinct ts — the batch answer
    // must carry the canonicals' rows, not just their ids)
    writeBatch(in, "b2.json", Seq(row(12, 10, docA), row(14, 11, short)))
    runOnce()
    val beforeIds = Sinks.readUpsertStore(spark, curated)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(beforeIds == Set(12L, 14L, 30L, 35L, 40L),
      s"the lower-id canonicals must be ADMITTED per trigger: $beforeIds")
    // one compact retires the higher-id exact copies (30 via the
    // identical-signature pair, 40 via the null-sig text-hash group)
    val n = Streaming.compactCuratedStore(spark, curated, sigs)
    assert(n == 2L, s"compact should remove docs 30 and 40, removed $n")
    val union = spark.read.schema(docSchema).json(in.toString + "/*.json")
    val want = graft.queries.TextQueries.curatedDocsOf(union, stages)
      .select("doc_id", "ts", "text", "quality").orderBy("doc_id").collect()
    val got = Sinks.readUpsertStore(spark, curated)
      .select("doc_id", "ts", "text", "quality").orderBy("doc_id").collect()
    assert(got.toSeq == want.toSeq,
      s"compacted store must equal the batch answer ROW-wise:\n got ${got.mkString(";")}\nwant ${want.mkString(";")}")
    assert(got.map(_.getLong(0)).toSeq == Seq(12L, 14L, 35L))
    // idempotent rerun; seen store keeps every survivor's evidence
    assert(Streaming.compactCuratedStore(spark, curated, sigs) == 0L)
    val sigIds = Sinks.readUpsertStore(spark, sigs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(sigIds == Set(12L, 14L, 30L, 35L, 40L),
      s"compact must not touch the seen store: $sigIds")
    // a crash-REPLAY of b2 after the compact must not re-admit losers
    // or self-suppress: same ids find their own entries (not lower),
    // and the curated upsert is idempotent on re-application
    writeBatch(in, "b2replay.json", Seq(row(12, 10, docA), row(14, 11, short)))
    runOnce()
    val after = Sinks.readUpsertStore(spark, curated)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(after == Seq(12L, 14L, 35L), s"replay must be idempotent: $after")
  }

  test("recovery repairs a meta-only store stranded by a crashed emptying delete") {
    import spark.implicits._
    val path = tmpDir("meta_only").resolve("store").toString
    val rows = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "v")
    Sinks.upsertParquetPartitioned(spark, rows, path, Seq("doc_id"), None, numBuckets = 4)
    // simulate the crash window: every bucket swapped away, the final
    // store delete never ran — meta file present, zero data files
    val dst = new org.apache.hadoop.fs.Path(path)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(dst).filter(_.getPath.getName.startsWith("gbucket="))
      .foreach(st => fs.delete(st.getPath, true))
    assert(fs.exists(dst), "precondition: the wedge state exists")
    // recovery finishes the delete's intent: the store reads as absent
    assert(!Sinks.recoverUpsertStore(spark, path),
      "a meta-only store must recover to ABSENT, not wedge reads")
    assert(!fs.exists(dst))
    // and the next merge recreates it cleanly
    Sinks.upsertParquetPartitioned(spark, Seq((9L, "z")).toDF("doc_id", "v"),
      path, Seq("doc_id"), None, numBuckets = 4)
    assert(Sinks.readUpsertStore(spark, path).select("doc_id")
      .collect().map(_.getLong(0)).toSeq == Seq(9L))
  }

  test("deleteFromUpsertStore that empties the store leaves it ABSENT, not meta-only") {
    import spark.implicits._
    val path = tmpDir("del_all").resolve("store").toString
    val rows = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "v")
    Sinks.upsertParquetPartitioned(spark, rows, path, Seq("doc_id"), None, numBuckets = 4)
    assert(Sinks.recoverUpsertStore(spark, path))
    // a partial delete keeps the store readable...
    Sinks.deleteFromUpsertStore(spark, path, Seq(1L).toDF("doc_id"))
    assert(Sinks.readUpsertStore(spark, path).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
    // ...and deleting every remaining key must not strand a zero-data-
    // file store (meta only — parquet schema inference would wedge
    // every later read and merge); the store reads as ABSENT instead
    Sinks.deleteFromUpsertStore(spark, path, Seq(2L, 3L).toDF("doc_id"))
    assert(!Sinks.recoverUpsertStore(spark, path),
      "an emptied store must read as absent")
    // ...and the next merge simply recreates it
    Sinks.upsertParquetPartitioned(spark, Seq((9L, "z")).toDF("doc_id", "v"),
      path, Seq("doc_id"), None, numBuckets = 4)
    assert(Sinks.readUpsertStore(spark, path).select("doc_id")
      .collect().map(_.getLong(0)).toSeq == Seq(9L))
  }

  test("incremental curation rejects corpus-trained stages") {
    // rarity / budget / repeated-line statistics are functions of the
    // whole corpus: a new batch would re-score docs admitted long ago.
    // That is a periodic batch recuration, not a per-trigger increment —
    // the sink says so instead of silently computing batch-local stats.
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val stream = Streaming.jsonFileStream(spark, docSchema, tmpDir("rej").toString + "/*.json", multiLine = false)
    intercept[IllegalArgumentException] {
      Streaming.incrementalCurationSink(stream, "/tmp/x", "/tmp/y",
        graft.queries.TextQueries.CurationStages(maxRarity = Some(9.0)))
    }
  }

  test("checkpoint recovery: a restarted stream processes only NEW files") {
    // the incremental contract a production ingest loop depends on: with
    // a persistent checkpoint, re-running the same stream after more
    // files land must process exactly the delta — not re-ingest history
    // (the upsert sink makes re-ingest harmless, but re-reading 100 TB
    // of history every run is the scale failure this pins)
    val in = tmpDir("stream_ckpt_in")
    val ckpt = tmpDir("stream_ckpt").toString
    val target = tmpDir("stream_ckpt_out").resolve("t").toString
    writeBatch(in, "b1.json", Seq(
      """{"city":"delhi","ts":"2025-12-11T00:00:00Z","value":1.0}""",
      """{"city":"mumbai","ts":"2025-12-11T00:00:00Z","value":1.0}"""))
    var batchRows = List.empty[Long]
    def runOnce(): Unit = {
      val stream = Streaming.jsonFileStream(spark, schema, in.toString + "/*.json", multiLine = false)
        .withColumn("ingest_seq", col("value"))
      val q = stream.writeStream
        .trigger(Trigger.AvailableNow())
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          val n = batch.count()
          batchRows = batchRows :+ n
          graft.engine.Sinks.upsertParquet(batch.sparkSession, batch, target,
            Seq("city"), Some("ingest_seq"))
        }
        .start()
      q.awaitTermination(60000)
    }
    runOnce()
    assert(batchRows.sum == 2, s"first run ingests both rows: $batchRows")
    writeBatch(in, "b2.json", Seq(
      """{"city":"delhi","ts":"2025-12-11T01:00:00Z","value":9.0}"""))
    runOnce()
    // second run saw ONLY the new file's single row
    assert(batchRows.sum == 3, s"restart must process the delta only: $batchRows")
    val out = spark.read.parquet(target).orderBy("city").collect()
    assert(out.length == 2)
    assert(out(0).getAs[String]("city") == "delhi" && out(0).getAs[Double]("value") == 9.0)
  }

  test("upsertParquet is idempotent on re-application of the same batch") {
    val target = tmpDir("upsert_idem").resolve("t").toString
    val df = spark.createDataFrame(java.util.List.of(
      org.apache.spark.sql.Row("delhi", 1.0, 1L),
      org.apache.spark.sql.Row("mumbai", 2.0, 1L)),
      StructType(Seq(StructField("city", StringType),
        StructField("value", DoubleType), StructField("seq", LongType))))
    Sinks.upsertParquet(spark, df, target, Seq("city"), Some("seq"))
    Sinks.upsertParquet(spark, df, target, Seq("city"), Some("seq"))
    assert(spark.read.parquet(target).count() == 2)
  }

  test("partitioned upsert merges identically to the full-rewrite sink") {
    val schema = StructType(Seq(StructField("city", StringType),
      StructField("value", DoubleType), StructField("seq", LongType)))
    def df(rows: (String, Double, Long)*) = spark.createDataFrame(
      java.util.List.of(rows.map(r =>
        org.apache.spark.sql.Row(r._1, r._2, r._3)): _*), schema)
    val batches = Seq(
      df(("delhi", 1.0, 1L), ("mumbai", 2.0, 1L), ("pune", 3.0, 1L)),
      df(("delhi", 9.0, 2L), ("chennai", 4.0, 1L)),
      df(("delhi", 5.0, 0L), ("kolkata", 6.0, 3L))) // stale delhi loses
    val full = tmpDir("upsert_eq_full").resolve("t").toString
    val part = tmpDir("upsert_eq_part").resolve("t").toString
    batches.foreach { b =>
      Sinks.upsertParquet(spark, b, full, Seq("city"), Some("seq"))
      Sinks.upsertParquetPartitioned(spark, b, part, Seq("city"), Some("seq"), numBuckets = 8)
    }
    val a = spark.read.parquet(full)
    val b = Sinks.readUpsertStore(spark, part).select(a.columns.map(col).toIndexedSeq: _*)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
      "partitioned store must equal the full-rewrite merge result")
  }

  test("partitioned upsert does not rewrite untouched partitions") {
    val schema = StructType(Seq(StructField("city", StringType),
      StructField("value", DoubleType), StructField("seq", LongType)))
    // enough distinct keys to populate many buckets
    val seed = spark.createDataFrame(java.util.List.of(
      (0 until 64).map(i =>
        org.apache.spark.sql.Row(s"city_$i", i.toDouble, 1L)): _*), schema)
    val target = tmpDir("upsert_part_files").resolve("t").toString
    Sinks.upsertParquetPartitioned(spark, seed, target, Seq("city"), Some("seq"), numBuckets = 16)
    val root = new org.apache.hadoop.fs.Path(target)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def fileState(): Map[String, (Long, Long)] =
      fs.listStatus(root).filter(_.getPath.getName.startsWith("gbucket="))
        .flatMap(d => fs.listStatus(d.getPath))
        .map(f => f.getPath.toString -> (f.getLen, f.getModificationTime)).toMap
    val before = fileState()
    // one-key batch: exactly one bucket is touched
    val one = spark.createDataFrame(java.util.List.of(
      org.apache.spark.sql.Row("city_3", 99.0, 2L)), schema)
    val touchedBucket = seed.sparkSession.range(1).select(
      pmod(xxhash64(lit("city_3")), lit(16L)).cast("int")).head.getInt(0)
    Sinks.upsertParquetPartitioned(spark, one, target, Seq("city"), Some("seq"))
    val after = fileState()
    val touchedPrefix = s"gbucket=$touchedBucket/"
    val (beforeTouched, beforeUntouched) = before.partition(_._1.contains(touchedPrefix))
    val (afterTouched, afterUntouched) = after.partition(_._1.contains(touchedPrefix))
    // untouched partition files: identical paths, lengths, mtimes
    assert(beforeUntouched == afterUntouched,
      "untouched partition files must not be rewritten")
    assert(beforeTouched.keySet != afterTouched.keySet,
      "the touched partition must have been replaced")
    // and the merge is correct
    val out = Sinks.readUpsertStore(spark, target)
    assert(out.count() == 64)
    assert(out.where(col("city") === "city_3").head.getAs[Double]("value") == 99.0)
  }

  test("partitioned upsert: merge read is partition-pruned to touched buckets") {
    val schema = StructType(Seq(StructField("city", StringType),
      StructField("value", DoubleType), StructField("seq", LongType)))
    val target = tmpDir("upsert_part_prune").resolve("t").toString
    val seed = spark.createDataFrame(java.util.List.of(
      (0 until 64).map(i =>
        org.apache.spark.sql.Row(s"c$i", i.toDouble, 1L)): _*), schema)
    Sinks.upsertParquetPartitioned(spark, seed, target, Seq("city"), Some("seq"), numBuckets = 16)
    // the exact pruned read the merge performs: only the touched
    // partition directories may appear in the scan
    val pruned = spark.read.parquet(target).where(col("gbucket").isin(3))
    val scan = pruned.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("FileScan parquet")).get
    assert(scan.contains("PartitionFilters") && scan.contains("gbucket"),
      s"merge read must prune on the bucket partition column: $scan")
    val counted = "PartitionCount: (\\d+)".r.findFirstMatchIn(
      pruned.queryExecution.executedPlan.toString)
    assert(counted.forall(_.group(1).toInt <= 1),
      s"pruned scan must touch at most 1 of 16 partitions: ${counted.map(_.group(0))}")
  }

  test("partitioned upsert rejects a merge with different keys than creation") {
    val schema = StructType(Seq(StructField("city", StringType),
      StructField("value", DoubleType), StructField("seq", LongType)))
    val target = tmpDir("upsert_part_keys").resolve("t").toString
    val b = spark.createDataFrame(java.util.List.of(
      org.apache.spark.sql.Row("delhi", 1.0, 1L)), schema)
    Sinks.upsertParquetPartitioned(spark, b, target, Seq("city"), Some("seq"))
    // hashing a different key set would land rows in wrong partitions —
    // must fail loudly, never silently duplicate
    intercept[IllegalArgumentException] {
      Sinks.upsertParquetPartitioned(spark, b, target, Seq("city", "seq"), None)
    }
  }

  test("writer fence: a second concurrent merge is rejected loudly, store intact") {
    val schema = StructType(Seq(StructField("city", StringType),
      StructField("value", DoubleType), StructField("seq", LongType)))
    val target = tmpDir("upsert_fence").resolve("t").toString
    val seed = spark.createDataFrame(java.util.List.of(
      (0 until 8).map(i =>
        org.apache.spark.sql.Row(s"c$i", i.toDouble, 1L)): _*), schema)
    Sinks.upsertParquetPartitioned(spark, seed, target, Seq("city"), Some("seq"), numBuckets = 4)
    val before = Sinks.readUpsertStore(spark, target).collect().toSet
    // simulate a merge in flight: its fence file exists
    val fence = new org.apache.hadoop.fs.Path(target + "_lock")
    val fs = fence.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(fence, false).close()
    val b2 = spark.createDataFrame(java.util.List.of(
      org.apache.spark.sql.Row("c3", 99.0, 2L)), schema)
    val e = intercept[java.util.ConcurrentModificationException] {
      Sinks.upsertParquetPartitioned(spark, b2, target, Seq("city"), Some("seq"))
    }
    assert(e.getMessage.contains("another writer"),
      s"rejection must explain itself: ${e.getMessage}")
    // the fenced-out merge must not have touched ANYTHING — data or fence
    assert(Sinks.readUpsertStore(spark, target).collect().toSet == before,
      "a fenced-out merge must leave the store byte-identical")
    assert(fs.exists(fence), "the loser must not delete the holder's fence")
    // rebucket honors the same fence
    intercept[java.util.ConcurrentModificationException] {
      Sinks.rebucketUpsertStore(spark, target, 8)
    }
    // holder finishes (fence released) -> the next merge proceeds and wins
    fs.delete(fence, false)
    Sinks.upsertParquetPartitioned(spark, b2, target, Seq("city"), Some("seq"))
    val out = Sinks.readUpsertStore(spark, target)
    assert(out.count() == 8)
    assert(out.where(col("city") === "c3").head.getAs[Double]("value") == 99.0)
    // ... and the successful merge cleaned its own fence up
    assert(!fs.exists(fence), "a completed merge must release its fence")
  }

  test("writer fence: two truly concurrent merges — exactly one wins, store consistent") {
    val schema = StructType(Seq(StructField("city", StringType),
      StructField("value", DoubleType), StructField("seq", LongType)))
    val target = tmpDir("upsert_race").resolve("t").toString
    val seed = spark.createDataFrame(java.util.List.of(
      (0 until 8).map(i =>
        org.apache.spark.sql.Row(s"c$i", i.toDouble, 1L)): _*), schema)
    Sinks.upsertParquetPartitioned(spark, seed, target, Seq("city"), Some("seq"), numBuckets = 4)
    val batch = spark.createDataFrame(java.util.List.of(
      org.apache.spark.sql.Row("c3", 99.0, 2L)), schema)
    // both racers release from the barrier together; the fence is taken
    // within microseconds of entry and held for the whole (hundreds of
    // ms) merge, so the loser always finds it occupied
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    // mutual exclusion is judged on the FENCE HOLD intervals the sink
    // records, not on call wall-clock: a loser descheduled inside
    // upsertParquetPartitioned before its fence check can overlap the
    // winner's whole call and still be a legal sequential reacquire —
    // timing the call would false-fail exactly that permitted schedule
    // (r8 advisor). Drop the seed merge's hold first.
    Sinks.fenceHolds.clear()
    val threads = (1 to 2).map { i =>
      new Thread(() => {
        barrier.await()
        try {
          Sinks.upsertParquetPartitioned(spark, batch, target, Seq("city"), Some("seq"))
          outcomes.add("win")
        } catch {
          case _: java.util.ConcurrentModificationException => outcomes.add("fenced")
          case t: Throwable => outcomes.add(s"unexpected: $t")
        }
      }, s"race-merger-$i")
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    val res = outcomes.toArray(Array.empty[String]).toSeq.sorted
    assert(res == Seq("fenced", "win") || res == Seq("win", "win"),
      s"no attempt may fail for any reason but the fence: $res")
    // every winner recorded exactly one hold on this store, and no two
    // holds overlapped — two overlapping holds ARE a broken fence,
    // regardless of how the calls around them were scheduled
    val holds = Sinks.fenceHolds.toArray(Array.empty[(String, Long, Long)])
      .toSeq.filter(_._1 == target).sortBy(_._2)
    assert(holds.size == res.count(_ == "win"),
      s"each winning merge must record exactly one fence hold: $holds vs $res")
    holds.sliding(2).foreach {
      case Seq((_, _, end1), (_, start2, _)) =>
        assert(end1 <= start2,
          s"two merges held the fence at once — the fence is broken: $holds")
      case _ => ()
    }
    // the surviving store carries the merge, the fence is released
    val out = Sinks.readUpsertStore(spark, target)
    assert(out.count() == 8)
    assert(out.where(col("city") === "c3").head.getAs[Double]("value") == 99.0)
    val fence2 = new org.apache.hadoop.fs.Path(target + "_lock")
    val fs2 = fence2.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs2.exists(fence2), "the winner must release the fence; the loser must not have created one")
  }

  test("rebucket re-lays the store at a new count; content and merges survive") {
    val schema = StructType(Seq(StructField("city", StringType),
      StructField("value", DoubleType), StructField("seq", LongType)))
    val target = tmpDir("upsert_rebucket").resolve("t").toString
    val seed = spark.createDataFrame(java.util.List.of(
      (0 until 40).map(i =>
        org.apache.spark.sql.Row(s"c$i", i.toDouble, 1L)): _*), schema)
    Sinks.upsertParquetPartitioned(spark, seed, target, Seq("city"), Some("seq"), numBuckets = 4)
    val before = Sinks.readUpsertStore(spark, target).collect().toSet
    Sinks.rebucketUpsertStore(spark, target, 16)
    val fs = new org.apache.hadoop.fs.Path(target)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(target))
      .map(_.getPath.getName).filter(_.startsWith("gbucket=")).length
    assert(dirs > 4, s"store must spread past the old 4 buckets, got $dirs dirs")
    assert(Sinks.readUpsertStore(spark, target).collect().toSet == before,
      "rebucket must preserve content exactly")
    // merges keep working, hashing at the NEW count from the meta
    val b2 = spark.createDataFrame(java.util.List.of(
      org.apache.spark.sql.Row("c3", 99.0, 2L)), schema)
    Sinks.upsertParquetPartitioned(spark, b2, target, Seq("city"), Some("seq"))
    val out = Sinks.readUpsertStore(spark, target)
    assert(out.count() == 40)
    assert(out.where(col("city") === "c3").head.getAs[Double]("value") == 99.0)
  }

  test("randomized batch sequences: partitioned and full-rewrite sinks always converge") {
    // seeded random merge histories (unique seq per row so the
    // last-write winner is deterministic) — the two sinks must agree on
    // the final store for ANY history, not just the hand-picked cases
    val schema = StructType(Seq(StructField("k", StringType),
      StructField("v", DoubleType), StructField("seq", LongType)))
    for (seed <- Seq(7, 23, 91)) {
      val rnd = new scala.util.Random(seed)
      val full = tmpDir(s"upsert_rand_full_$seed").resolve("t").toString
      val part = tmpDir(s"upsert_rand_part_$seed").resolve("t").toString
      var seq = 0L
      for (_ <- 0 until 4) {
        val rows = (0 until 12).map { _ =>
          seq += 1
          org.apache.spark.sql.Row(s"k${rnd.nextInt(8)}", rnd.nextDouble(), seq)
        }
        val batch = spark.createDataFrame(java.util.List.of(rows: _*), schema)
        Sinks.upsertParquet(spark, batch, full, Seq("k"), Some("seq"))
        Sinks.upsertParquetPartitioned(spark, batch, part, Seq("k"), Some("seq"), numBuckets = 4)
      }
      val a = spark.read.parquet(full)
      val b = Sinks.readUpsertStore(spark, part).select(a.columns.map(col).toIndexedSeq: _*)
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
        s"stores diverged for seed $seed")
    }
  }

  test("partitioned upsert refuses to overwrite a directory that is not its store") {
    val schema = StructType(Seq(StructField("city", StringType),
      StructField("value", DoubleType), StructField("seq", LongType)))
    val target = tmpDir("upsert_foreign").resolve("t").toString
    val b = spark.createDataFrame(java.util.List.of(
      org.apache.spark.sql.Row("delhi", 1.0, 1L)), schema)
    // an UNPARTITIONED upsert table lives at the path
    Sinks.upsertParquet(spark, b, target, Seq("city"), Some("seq"))
    intercept[IllegalArgumentException] {
      Sinks.upsertParquetPartitioned(spark, b, target, Seq("city"), Some("seq"))
    }
    // the foreign table is intact
    assert(spark.read.parquet(target).count() == 1)
  }

  test("empty batches neither create a zero-file store nor disturb an existing one") {
    val schema = StructType(Seq(StructField("city", StringType),
      StructField("value", DoubleType), StructField("seq", LongType)))
    val target = tmpDir("upsert_empty").resolve("t").toString
    val empty = spark.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](), schema)
    Sinks.upsertParquetPartitioned(spark, empty, target, Seq("city"), Some("seq"))
    val fs = new org.apache.hadoop.fs.Path(target)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(target)),
      "an empty first batch must not create a store no reader can open")
    val seed = spark.createDataFrame(java.util.List.of(
      org.apache.spark.sql.Row("delhi", 1.0, 1L)), schema)
    Sinks.upsertParquetPartitioned(spark, seed, target, Seq("city"), Some("seq"))
    Sinks.upsertParquetPartitioned(spark, empty, target, Seq("city"), Some("seq"))
    assert(Sinks.readUpsertStore(spark, target).count() == 1)
  }

  test("merge restores a store stranded at _old by a crashed rebucket") {
    val schema = StructType(Seq(StructField("city", StringType),
      StructField("value", DoubleType), StructField("seq", LongType)))
    val target = tmpDir("upsert_rebucket_crash").resolve("t").toString
    val seed = spark.createDataFrame(java.util.List.of(
      (0 until 20).map(i =>
        org.apache.spark.sql.Row(s"c$i", i.toDouble, 1L)): _*), schema)
    Sinks.upsertParquetPartitioned(spark, seed, target, Seq("city"), Some("seq"), numBuckets = 4)
    // simulate a rebucket that died between its two whole-store renames
    val fs = new org.apache.hadoop.fs.Path(target)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(target),
      new org.apache.hadoop.fs.Path(target + "_old")))
    val b2 = spark.createDataFrame(java.util.List.of(
      org.apache.spark.sql.Row("extra", 50.0, 2L)), schema)
    // the merge must restore the stranded store first, NOT recreate a
    // batch-only store over it
    Sinks.upsertParquetPartitioned(spark, b2, target, Seq("city"), Some("seq"))
    assert(Sinks.readUpsertStore(spark, target).count() == 21)
    // and rebucket itself also restores before re-laying out
    assert(fs.rename(new org.apache.hadoop.fs.Path(target),
      new org.apache.hadoop.fs.Path(target + "_old")))
    Sinks.rebucketUpsertStore(spark, target, 8)
    assert(Sinks.readUpsertStore(spark, target).count() == 21)
  }

  test("partitioned upsert recovers a bucket stranded aside by a crashed swap") {
    // every writer of the partition-scoped store restores the bucket
    // before it reads: Spark's file index hides the dot-prefixed aside
    // dir, so a writer that skipped the restore would drop its rows
    val schema = StructType(Seq(StructField("city", StringType),
      StructField("value", DoubleType), StructField("seq", LongType)))
    def frame(rows: org.apache.spark.sql.Row*) =
      spark.createDataFrame(java.util.List.of(rows: _*), schema)
    val seeded = (0 until 32).map(i => s"k$i").toSet
    val writers: Seq[(String, String => Unit, Set[String])] = Seq(
      ("merge", t => Sinks.upsertParquetPartitioned(spark,
        frame(org.apache.spark.sql.Row("k_new", 100.0, 2L)), t, Seq("city"), Some("seq")),
        seeded + "k_new"),
      ("delete", t => Sinks.deleteFromUpsertStore(spark, t,
        frame(org.apache.spark.sql.Row("k0", 0.0, 0L))), seeded - "k0"),
      ("rebucket", t => Sinks.rebucketUpsertStore(spark, t, 4), seeded))
    writers.foreach { case (name, write, want) =>
      val target = tmpDir(s"upsert_part_crash_$name").resolve("t").toString
      Sinks.upsertParquetPartitioned(spark,
        frame(seeded.toSeq.sorted.map(c => org.apache.spark.sql.Row(c, 1.0, 1L)): _*),
        target, Seq("city"), Some("seq"), numBuckets = 8)
      val root = new org.apache.hadoop.fs.Path(target)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // simulate a crash between the two swap renames on one bucket: live
      // dir moved aside, replacement never landed
      val live = fs.listStatus(root).map(_.getPath)
        .find(_.getName.startsWith("gbucket=")).get
      assert(fs.rename(live, new org.apache.hadoop.fs.Path(root, ".aside_" + live.getName)))
      write(target)
      val got = Sinks.readUpsertStore(spark, target).select("city")
        .collect().map(_.getString(0)).toSet
      assert(got == want, s"$name: lost ${want -- got}, gained ${got -- want}")
      assert(!fs.listStatus(root).exists(_.getPath.getName.startsWith(".aside_")),
        s"$name left an aside copy behind")
    }
  }

  test("streaming upsert sink over the partitioned store: last write wins per key") {
    val in = tmpDir("stream_upsert_part_in")
    val target = tmpDir("stream_upsert_part_out").resolve("table").toString
    writeBatch(in, "b1.json", Seq(
      """{"city":"delhi","ts":"2025-12-11T00:00:00Z","value":10.0}""",
      """{"city":"mumbai","ts":"2025-12-11T00:00:00Z","value":20.0}"""))
    def runOnce(): Unit = {
      val stream = Streaming.jsonFileStream(spark, schema, in.toString + "/*.json", multiLine = false)
        .withColumn("ingest_seq", col("value"))
      val q = Streaming.upsertSink(stream, target, Seq("city"), Some("ingest_seq"),
        numBuckets = Some(8)).start()
      q.awaitTermination(60000)
    }
    runOnce()
    assert(Sinks.readUpsertStore(spark, target).count() == 2)
    writeBatch(in, "b2.json", Seq(
      """{"city":"delhi","ts":"2025-12-11T02:00:00Z","value":99.0}"""))
    runOnce()
    val out = Sinks.readUpsertStore(spark, target).orderBy("city").collect()
    assert(out.length == 2, out.mkString(";"))
    assert(out(0).getAs[String]("city") == "delhi" && out(0).getAs[Double]("value") == 99.0)
    assert(out(1).getAs[String]("city") == "mumbai" && out(1).getAs[Double]("value") == 20.0)
  }

  test("upsertParquet recovers a table stranded at _old by a crashed swap") {
    val target = tmpDir("upsert_crash").resolve("t").toString
    val schema = StructType(Seq(StructField("city", StringType),
      StructField("value", DoubleType), StructField("seq", LongType)))
    val b1 = spark.createDataFrame(java.util.List.of(
      org.apache.spark.sql.Row("delhi", 1.0, 1L),
      org.apache.spark.sql.Row("mumbai", 2.0, 1L)), schema)
    Sinks.upsertParquet(spark, b1, target, Seq("city"), Some("seq"))
    // simulate a crash between the two swap renames: the table sits at
    // _old and nothing is at the target path
    val fs = new org.apache.hadoop.fs.Path(target)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(target),
      new org.apache.hadoop.fs.Path(target + "_old")))
    val b2 = spark.createDataFrame(java.util.List.of(
      org.apache.spark.sql.Row("pune", 3.0, 2L)), schema)
    Sinks.upsertParquet(spark, b2, target, Seq("city"), Some("seq"))
    // the stranded copy must be restored and merged, not erased
    assert(spark.read.parquet(target).count() == 3)
  }

  test("mediaNearDupSuppressSink: admission flags across batches; stubs admitted; store is append-only truth") {
    import graft.ext.Multimodal
    import spark.implicits._
    val root = tmpDir("media_ingest")
    val in = s"$root/in"; val store = s"$root/store"; val ck = s"$root/ck"
    // fingerprint-controlled WAVs: monotone-increasing energies give
    // fp = 0 (no positive delta); monotone-decreasing give ~23 set
    // bits — far beyond the Hamming-4 radius, and (asserted below)
    // with no band collision against 0
    val upS = Array.tabulate(24)(i => (i * 10).toShort)
    val dnS = Array.tabulate(24)(i => (240 - i * 10).toShort)
    val fpUp = Multimodal.audioFingerprint(upS, 1)
    val fpDn = Multimodal.audioFingerprint(dnS, 1)
    assert(java.lang.Long.bitCount(fpUp ^ fpDn) > 4, "precondition: the two clips are not near")
    assert((0 until 4).forall(j => ((fpUp >> (16 * j)) & 0xFFFF) != ((fpDn >> (16 * j)) & 0xFFFF)),
      "precondition: no shared band bucket")
    val wavA = Multimodal.encodeWav(upS, 1, 8000)
    val wavB = Multimodal.encodeWav(dnS, 1, 8000)
    val stub = Array[Byte](0, 1, 2, 3, 4, 5, 6, 7)
    def drain(rows: Seq[(Long, Array[Byte])], name: String): Unit = {
      rows.toDF("doc_id", "media").coalesce(1).write.mode("append").parquet(in)
      val stream = spark.readStream
        .schema(StructType(Seq(StructField("doc_id", LongType),
          StructField("media", BinaryType))))
        .option("maxFilesPerTrigger", 1).parquet(in)
      Streaming.mediaNearDupSuppressSink(stream, store, numBuckets = 2)
        .option("checkpointLocation", ck)
        .start().awaitTermination()
    }
    // batch 1: doc 2 is doc 1's exact acoustic replica — within-batch
    // suppression, lower id wins
    drain(Seq(1L -> wavA, 2L -> wavA), "b1")
    // batch 2: doc 3 replays the SEEN fingerprint (store probe must
    // suppress it); doc 4 is acoustically distinct (admitted); doc 5
    // is undecodable (stub — admitted by definition, null fp)
    drain(Seq(3L -> wavA, 4L -> wavB, 5L -> stub), "b2")
    val rows = Sinks.readUpsertStore(spark, store)
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("kind"),
        Option(r.getAs[java.lang.Long]("fp")).map(_.longValue),
        r.getAs[Boolean]("admitted")))
    assert(rows.toSeq == Seq(
      (1L, "wav", Some(fpUp), true),
      (2L, "wav", Some(fpUp), false),
      (3L, "wav", Some(fpUp), false),
      (4L, "wav", Some(fpDn), true),
      (5L, "stub", None, true)),
      s"store must carry every seen row with its admission flag: ${rows.mkString(";")}")
  }

  test("mediaNearDupSuppressSink capPerBucket: hot buckets drop from self-join AND probe (the documented recall trade)") {
    // a 12-copy acoustic storm: uncapped, one copy is admitted and 11
    // suppressed; at capPerBucket=8 the storm's buckets exceed the cap
    // on the batch side (and later the store side), so NO suppression
    // reaches the storm — every copy is admitted, exactly the recall
    // trade the knob's scaladoc (and q84's cap study) documents. The
    // distinct clip is admitted either way.
    import graft.ext.Multimodal
    import spark.implicits._
    val upS = Array.tabulate(24)(i => (i * 10).toShort)
    val dnS = Array.tabulate(24)(i => (240 - i * 10).toShort)
    val wavA = Multimodal.encodeWav(upS, 1, 8000)
    val wavB = Multimodal.encodeWav(dnS, 1, 8000)
    def run(cap: Option[Int], tag: String): Map[Long, Boolean] = {
      val root = tmpDir(s"media_cap_$tag")
      val in = s"$root/in"; val store = s"$root/store"; val ck = s"$root/ck"
      def drain(rows: Seq[(Long, Array[Byte])]): Unit = {
        rows.toDF("doc_id", "media").coalesce(1).write.mode("append").parquet(in)
        val stream = spark.readStream
          .schema(StructType(Seq(StructField("doc_id", LongType),
            StructField("media", BinaryType))))
          .option("maxFilesPerTrigger", 1).parquet(in)
        Streaming.mediaNearDupSuppressSink(stream, store, numBuckets = 2,
            capPerBucket = cap)
          .option("checkpointLocation", ck)
          .start().awaitTermination()
      }
      drain((1L to 12L).map(_ -> wavA) :+ (13L -> wavB))
      drain(Seq(14L -> wavA)) // store-side hot bucket: probe must also skip it when capped
      Sinks.readUpsertStore(spark, store).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("admitted")).toMap
    }
    val exact = run(None, "off")
    assert(exact(1L) && exact(13L) && !exact(2L) && !exact(12L) && !exact(14L),
      s"uncapped: first copy + distinct clip admitted, storm suppressed: $exact")
    val capped = run(Some(8), "on")
    assert((1L to 14L).forall(capped(_)),
      s"capped: the hot bucket is dropped from both joins, so the storm is admitted: $capped")
  }

  test("compactMediaStore: out-of-order admissions converge to the one-shot answer; rerun demotes 0") {
    import graft.ext.Multimodal
    import spark.implicits._
    val upS = Array.tabulate(24)(i => (i * 10).toShort)
    val dnS = Array.tabulate(24)(i => (240 - i * 10).toShort)
    val wavA = Multimodal.encodeWav(upS, 1, 8000)
    val wavB = Multimodal.encodeWav(dnS, 1, 8000)
    def drive(root: java.nio.file.Path, batches: Seq[Seq[(Long, Array[Byte])]]): String = {
      val in = s"$root/in"; val store = s"$root/store"; val ck = s"$root/ck"
      batches.foreach { rows =>
        rows.toDF("doc_id", "media").coalesce(1).write.mode("append").parquet(in)
        val stream = spark.readStream
          .schema(StructType(Seq(StructField("doc_id", LongType),
            StructField("media", BinaryType))))
          .option("maxFilesPerTrigger", 1).parquet(in)
        Streaming.mediaNearDupSuppressSink(stream, store, numBuckets = 2)
          .option("checkpointLocation", ck)
          .start().awaitTermination()
      }
      store
    }
    def snap(store: String): Seq[(Long, String, Option[Long], Boolean)] =
      Sinks.readUpsertStore(spark, store).orderBy(col("doc_id")).collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("kind"),
          Option(r.getAs[java.lang.Long]("fp")).map(_.longValue),
          r.getAs[Boolean]("admitted"))).toSeq
    // OUT-OF-ORDER: doc 10 (wavA) and 11 (wavB) admitted first; doc 1 —
    // a LOWER-id exact acoustic replica of 10 — arrives later and passes
    // the strict-< probe (crash-replay safety), so both copies sit
    // admitted: the divergence the compact exists to retire
    val oooStore = drive(tmpDir("media_ooo"),
      Seq(Seq(10L -> wavA, 11L -> wavB), Seq(1L -> wavA)))
    assert(snap(oooStore).collect { case (id, _, _, true) => id } == Seq(1L, 10L, 11L),
      s"pre-compact: the late lower-id copy AND its admitted twin both admitted: ${snap(oooStore)}")
    val n = Streaming.compactMediaStore(spark, oooStore)
    assert(n == 1L, s"exactly doc 10 must be demoted, got $n")
    // the compacted flags must equal the ONE-SHOT answer over the union
    val oneShot = drive(tmpDir("media_oneshot"),
      Seq(Seq(1L -> wavA, 10L -> wavA, 11L -> wavB)))
    assert(snap(oooStore) == snap(oneShot),
      s"post-compact store must row-equal the one-shot run:\n${snap(oooStore)}\nvs\n${snap(oneShot)}")
    assert(Streaming.compactMediaStore(spark, oooStore) == 0L,
      "a second compact must find the losers already demoted")
  }

  test("mediaNearDupSuppressSink: a store stranded at _old is recovered; cross-batch suppression intact") {
    // the r18 ADVICE failure mode: a crashed merge leaves the store at
    // <path>_old — a bare fs.exists(dst) read it as ABSENT, silently
    // skipping one batch's cross-batch suppression (wrong admitted=true
    // flags, permanently). The sink must run the same recovery the
    // writer would (Sinks.recoverUpsertStore).
    import graft.ext.Multimodal
    import spark.implicits._
    val upS = Array.tabulate(24)(i => (i * 10).toShort)
    val wavA = Multimodal.encodeWav(upS, 1, 8000)
    val root = tmpDir("media_old_recover")
    val in = s"$root/in"; val store = s"$root/store"; val ck = s"$root/ck"
    def drain(rows: Seq[(Long, Array[Byte])]): Unit = {
      rows.toDF("doc_id", "media").coalesce(1).write.mode("append").parquet(in)
      val stream = spark.readStream
        .schema(StructType(Seq(StructField("doc_id", LongType),
          StructField("media", BinaryType))))
        .option("maxFilesPerTrigger", 1).parquet(in)
      Streaming.mediaNearDupSuppressSink(stream, store, numBuckets = 2)
        .option("checkpointLocation", ck)
        .start().awaitTermination()
    }
    drain(Seq(1L -> wavA))
    // simulate the crash: the whole store stranded at _old
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(store),
      new org.apache.hadoop.fs.Path(store + "_old")))
    drain(Seq(2L -> wavA))
    val flags = Sinks.readUpsertStore(spark, store).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("admitted")).toMap
    assert(flags == Map(1L -> true, 2L -> false),
      s"the recovered store must still suppress the cross-batch replica: $flags")
  }

  test("hammingLosers: a SUPPRESSED stored doc still suppresses its own later near-replicas (seen-store semantics)") {
    // fp1 = 0; fp2 = bit 0 (near fp1: shared bands 1-3, Hamming 1 —
    // doc 2 was suppressed by doc 1 at ingest); fp3 = bits
    // {0,16,32,48,62}: Hamming 4 from fp2 with a shared band (band 0 =
    // 0x0001), but NO shared band with fp1 — so an admitted-only store
    // would wrongly admit doc 3. The sink's loser join (batch + store
    // as witnesses) must read the full seen store and suppress it
    // through the suppressed doc 2.
    import spark.implicits._
    val fp3 = (1L << 0) | (1L << 16) | (1L << 32) | (1L << 48) | (1L << 62)
    val mk = (rows: Seq[(Long, Long)]) =>
      rows.toDF("doc_id", "fp").select(col("doc_id"), lit("wav").as("kind"), col("fp"))
    val seen = mk(Seq(1L -> 0L, 2L -> 1L))
    val admittedOnly = mk(Seq(1L -> 0L))
    val batch = mk(Seq(3L -> fp3))
    val losers = (store: org.apache.spark.sql.DataFrame) =>
      MultimodalQueries.hammingLosers(batch, Seq(batch, store), Seq("kind"), cap = None)
    assert(losers(admittedOnly).count() == 0,
      "precondition: the admitted row alone cannot reach doc 3")
    val hits = losers(seen).collect().map(_.getLong(0))
    assert(hits.toSeq == Seq(3L),
      s"the suppressed stored fingerprint must suppress the replica: ${hits.mkString(",")}")
  }

  test("hammingLosers ≡ bandedHashPairs: the compact's losers are, per kind, the higher-id side of the batch pairs at every cap") {
    // one constructed (doc_id, kind, fp) frame, the same fingerprints
    // under two kinds with interleaved ids. Per kind: a HOT group of 5
    // docs (H with one low bit flipped: bands 1-3 shared, occupancy 5,
    // Hamming 2 apart) and a cold trio around G — G^bit20 is Hamming 1
    // from G through band 2 (occupancy 2), G^(0x1F << 32) shares bands
    // 0, 1 and 3 with G but sits at Hamming 5, so only the verify
    // rejects it. Cap 2 drops the hot buckets; cap 8 and capless keep
    // them — unless kinds leak into each other's occupancy (10 > 8).
    import spark.implicits._
    val h = 0x0123456789ABCDEFL
    val g = 0x7E5D3C2B1A098877L
    def kindRows(kind: String, base: Long): Seq[(Long, String, Long)] =
      (0 until 5).map(i => (base + 2 * i, kind, h ^ (1L << i))) ++
        Seq((base + 20, kind, g), (base + 22, kind, g ^ (1L << 20)),
          (base + 24, kind, g ^ (0x1FL << 32)))
    val fp = (kindRows("bmp", 100) ++ kindRows("wav", 101)).toDF("doc_id", "kind", "fp")
    def batchLosers(cap: Option[Int]): Set[Long] = Seq("bmp", "wav").flatMap { k =>
      MultimodalQueries.bandedHashPairs(
          fp.where(col("kind") === k).select(col("doc_id"), col("fp").as("dhash")),
          cap = cap.getOrElse(Int.MaxValue))
        .select(col("doc_b")).collect().map(_.getLong(0))
    }.toSet
    def compactLosers(cap: Option[Int]): Set[Long] = {
      val store = s"${tmpDir("media_kernel")}/store"
      Sinks.upsertParquetPartitioned(spark, fp.withColumn("admitted", lit(true)), store,
        Seq("doc_id"), orderCol = None, numBuckets = 2)
      val n = Streaming.compactMediaStore(spark, store, capPerBucket = cap)
      val demoted = Sinks.readUpsertStore(spark, store).where(!col("admitted"))
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
      assert(n == demoted.size, s"compact count $n vs demoted rows $demoted")
      demoted
    }
    // q123's guard reads the same kind-keyed occupancy: 5, never the 10
    // a kind-blind count would give; a frame with no fingerprint reads 0
    assert(MultimodalQueries.maxMediaBandOccupancy(fp) == 5L)
    assert(MultimodalQueries.maxMediaBandOccupancy(fp.where(lit(false))) == 0L)
    val cold = Set(122L, 123L)
    val all = cold ++ Set(102L, 104L, 106L, 108L, 103L, 105L, 107L, 109L)
    for ((cap, expected) <- Seq(None -> all, Some(2) -> cold, Some(8) -> all)) {
      val batch = batchLosers(cap)
      assert(batch == expected, s"cap $cap: batch pairs' higher-id side $batch, expected $expected")
      val compact = compactLosers(cap)
      assert(compact == batch, s"cap $cap: compact losers $compact vs batch $batch")
    }
  }

  test("mediaNearDupSuppressSink / compactMediaStore: capPerBucket < 2 is rejected when built, with bandedHashPairs' message") {
    // at cap 1 no bucket can hold a pair and at cap 0 none survives, so
    // suppression would silently switch off; the knob is checked before
    // any trigger runs (and before the compact takes its fence — on a
    // missing store it would otherwise return 0 without a word)
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("doc_id", LongType),
        StructField("media", BinaryType))))
      .parquet(tmpDir("media_badcap_in").toString)
    val store = s"${tmpDir("media_badcap")}/store"
    for (c <- Seq(1, 0)) {
      val msg = s"a pair needs bucket occupancy >= 2, got cap $c"
      val sink = intercept[IllegalArgumentException](
        Streaming.mediaNearDupSuppressSink(stream, store, capPerBucket = Some(c)))
      assert(sink.getMessage.contains(msg), sink.getMessage)
      val compact = intercept[IllegalArgumentException](
        Streaming.compactMediaStore(spark, store, capPerBucket = Some(c)))
      assert(compact.getMessage.contains(msg), compact.getMessage)
      val batch = intercept[IllegalArgumentException](
        MultimodalQueries.bandedHashPairs(spark.emptyDataFrame, cap = c))
      assert(batch.getMessage == sink.getMessage, "one message for the one knob")
    }
  }

  test("dropRedeliveries: identical re-deliveries collapse; divergent payloads fail loudly") {
    import spark.implicits._
    // happy arm: byte-identical re-delivery (the crash-replay shape)
    // collapses to one copy per key
    val replay = Seq((1L, "a", 1.5), (1L, "a", 1.5), (2L, "b", 2.5))
      .toDF("doc_id", "text", "w")
    val out = Streaming.dropRedeliveries(replay, "doc_id")
    assert(out.count() == 2 &&
      out.orderBy("doc_id").as[(Long, String, Double)].collect().toSeq ==
        Seq((1L, "a", 1.5), (2L, "b", 2.5)))
    // guard arm: the SAME key with a DIFFERENT payload is a key-contract
    // violation — dropDuplicates would keep a nondeterministic copy, so
    // the batch must fail loudly instead (r19 ADVICE); the assert_true
    // gate raises at first consumption, naming the offending key
    val divergent = Seq((1L, "a", 1.5), (1L, "a-CHANGED", 1.5))
      .toDF("doc_id", "text", "w")
    val e = intercept[Exception] {
      Streaming.dropRedeliveries(divergent, "doc_id").count()
    }
    def chainMsg(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString("; ")
    assert(chainMsg(e).contains("key contract violated") &&
      chainMsg(e).contains("'doc_id'=1"), chainMsg(e))
    // binary payloads (the media sink's shape) hash and guard too
    val media = Seq((7L, Array[Byte](1, 2, 3)), (7L, Array[Byte](1, 2, 3)))
      .toDF("doc_id", "media")
    assert(Streaming.dropRedeliveries(media, "doc_id").count() == 1)
    val mediaBad = Seq((7L, Array[Byte](1, 2, 3)), (7L, Array[Byte](9, 9, 9)))
      .toDF("doc_id", "media")
    intercept[Exception] {
      Streaming.dropRedeliveries(mediaBad, "doc_id").count()
    }
    // null-shift arm (r20 ADVICE): xxhash64 skips NULL inputs, so two
    // divergent payloads whose non-null values shift across same-type
    // columns — (text=NULL, url="x") vs (text="x", url=NULL) — hashed
    // identically before the isnull-flag interleave; the guard must
    // catch them, not silently pick one
    val nullShift = Seq((3L, Option.empty[String], Option("x")),
      (3L, Option("x"), Option.empty[String]))
      .toDF("doc_id", "text", "url")
    val e2 = intercept[Exception] {
      Streaming.dropRedeliveries(nullShift, "doc_id").count()
    }
    assert(chainMsg(e2).contains("key contract violated"), chainMsg(e2))
    // and an identical-including-nulls replay still collapses
    val nullSame = Seq((4L, Option.empty[String], Option("x")),
      (4L, Option.empty[String], Option("x"))).toDF("doc_id", "text", "url")
    assert(Streaming.dropRedeliveries(nullSame, "doc_id").count() == 1)
  }
}
