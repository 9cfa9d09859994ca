package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.Row
import graft.engine.Sinks
import graft.queries.MultimodalQueries

/** W2 (SURVEY.md §2.6) — the reference's rerun-append-upsert batch loop
  * re-expressed as Structured Streaming: a file source over the landed
  * raw/staged directory, event-time watermarking, key dedup, tumbling
  * windows, and a foreachBatch upsert sink (the streaming MERGE shape).
  *
  * Scale notes: dedup state is bounded by the watermark horizon (state
  * eviction is what makes `dropDuplicates` viable on an unbounded
  * stream); the window aggregate is the same `window()` expression the
  * batch queries use (q08) — one definition, both execution modes.
  */
object Streaming {

  /** File-source stream over landed JSON (the reference's raw layer,
    * W2's micro-batch input). multiLine=true for one-document-per-file
    * landed payloads (the reference's shape); false for JSONL batches. */
  def jsonFileStream(spark: SparkSession, schema: StructType, dir: String,
                     multiLine: Boolean = true): DataFrame =
    spark.readStream.schema(schema).option("multiLine", multiLine).json(dir)

  /** File-source stream over a landed parquet directory — the staged
    * layer as a stream (same file-source mechanics as
    * [[jsonFileStream]], columnar input). */
  def parquetFileStream(spark: SparkSession, schema: StructType, dir: String): DataFrame =
    spark.readStream.schema(schema).parquet(dir)

  /** Collapse re-delivered rows to one copy per `key`, GUARDING the key
    * contract the collapse relies on: replayed deliveries must carry
    * IDENTICAL payloads, because `dropDuplicates(key)` otherwise keeps
    * an arbitrary copy — a nondeterministic pick that can differ
    * between a crashed attempt and its replay, quietly breaking the
    * foreachBatch sinks' replayed-batch-recomputes-identical-decisions
    * idempotence instead of failing loudly (r19 ADVICE).
    *
    * Fused into ONE keyed aggregation (the same single shuffle a bare
    * dropDuplicates costs — a first cut as a separate countDistinct
    * pre-pass re-scanned and re-shuffled every micro-batch, +30% on the
    * q120/q122/q123 clean benches): per key, keep min/max of a
    * full-row hash plus `first(struct(*))`, and gate the output through
    * an `assert_true` FILTER (a filter cannot be pruned away, unlike a
    * projected assertion column) that raises with the offending key
    * when the hashes diverge. When the guard passes, every row of the
    * key is byte-identical, so `first` is deterministic — exactly the
    * collapse the contract promises. StreamingSpec pins both arms. */
  private[graft] def dropRedeliveries(batch: DataFrame, key: String): DataFrame = {
    // xxhash64 SKIPS null inputs (the seed passes through unchanged), so
    // two divergent payloads whose non-null values shift across
    // same-type columns — (text=NULL, url="x") vs (text="x", url=NULL) —
    // would hash identically and the guard would silently pass (r20
    // ADVICE). Interleaving a never-null isnull flag per column makes
    // the null PATTERN part of the hash; still one codegen'd expression.
    val cols = batch.columns.sorted
    val payload = xxhash64(cols.map(col) ++ cols.map(c => isnull(col(c))): _*)
    batch
      .groupBy(col(key)).agg(
        min(payload).as("_pmin"), max(payload).as("_pmax"),
        first(struct(batch.columns.map(col): _*)).as("_row"))
      .where(assert_true(col("_pmin") === col("_pmax"),
        concat(lit(s"sink key contract violated: '$key'="),
          col(key).cast("string"),
          lit(" delivered twice with DIFFERENT payloads in one batch — " +
            "a replayed delivery must be byte-identical for the collapse " +
            "to be exact"))).isNull)
      .select(col("_row.*"))
  }

  /** Exactly-once-per-key ingestion: watermark + dropDuplicates on the
    * business key (the reference's ON CONFLICT (city,time) key,
    * ETL_Multi_Lvl_API/load.py:117-163). Late events beyond the
    * watermark are dropped along with their dedup state.
    *
    * NOTE: dropDuplicates treats NULL keys as equal — a nullable key
    * (e.g. a minhash signature, null for short docs) needs a non-null
    * fallback column alongside it or distinct null-keyed rows collapse
    * to one (see the near-dup suppression test in StreamingSpec). */
  def dedupByKey(stream: DataFrame, eventTimeCol: String, watermark: String,
                 keys: Seq[String]): DataFrame =
    stream.withWatermark(eventTimeCol, watermark)
      .dropDuplicates(keys)

  /** Streaming tumbling-hour mean — W1/A10/q08 in streaming mode. */
  def hourlyAvg(stream: DataFrame, eventTimeCol: String, watermark: String,
                keyCol: String, valueCol: String): DataFrame =
    stream.withWatermark(eventTimeCol, watermark)
      .groupBy(window(col(eventTimeCol), "1 hour"), col(keyCol))
      .agg(avg(col(valueCol)).as("avg_value"), count(lit(1)).as("n"))
      .select(col("window.start").as("hour_start"), col(keyCol),
        col("avg_value"), col("n"))

  /** Per-key session accumulator for [[sessionize]]. */
  final case class SessionState(sessionStartUs: Long, lastSeenUs: Long, nEvents: Long)

  /** Closed-session output record. */
  final case class SessionOut(key: String, sessionStartUs: Long,
                              durationUs: Long, nEvents: Long)

  /** Custom stateful processing via flatMapGroupsWithState — the
    * arbitrary-state path for semantics window()/dropDuplicates can't
    * express: gap-based sessionization (the streaming form of the batch
    * q34 running-sum formulation). A session closes when its key sees an
    * event past the gap, or when the state times out at the watermark —
    * so state size is bounded by active keys, not history.
    *
    * Scale note: state lives in the state store partitioned by key; the
    * only shuffle is the groupByKey on the session key.
    */
  def sessionize(spark: SparkSession, stream: DataFrame, keyCol: String,
                 eventTimeCol: String, watermark: String,
                 gapUs: Long): org.apache.spark.sql.Dataset[SessionOut] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    // the watermarked TIMESTAMP column must flow into the stateful op
    // as-is — projecting it to a long would strip the event-time
    // metadata EventTimeTimeout depends on
    stream.withWatermark(eventTimeCol, watermark)
      .select(col(keyCol).cast("string").as("k"), col(eventTimeCol).as("et"))
      .as[(String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key: String, rawEvents: Iterator[(String, java.sql.Timestamp)], state: GroupState[SessionState]) =>
          // true unix micros, not getTime*1000 (which would truncate to
          // ms and let session boundaries disagree with batch q34's
          // unix_micros on the same data): whole seconds from getTime,
          // sub-second from getNanos (which carries the full fraction)
          def micros(ts: java.sql.Timestamp): Long =
            Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L
          val events = rawEvents.map(e => (e._1, micros(e._2)))
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(key, s.sessionStartUs, s.lastSeenUs - s.sessionStartUs, s.nEvents))
          } else {
            val sorted = events.map(_._2).toSeq.sorted
            var closed = List.empty[SessionOut]
            var cur = state.getOption
            sorted.foreach { us =>
              cur match {
                case Some(s) if us - s.lastSeenUs <= gapUs =>
                  cur = Some(s.copy(lastSeenUs = us, nEvents = s.nEvents + 1))
                case Some(s) =>
                  closed ::= SessionOut(key, s.sessionStartUs, s.lastSeenUs - s.sessionStartUs, s.nEvents)
                  cur = Some(SessionState(us, us, 1))
                case None =>
                  cur = Some(SessionState(us, us, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // time out (and emit) the open session once the watermark
              // passes its gap horizon
              state.setTimeoutTimestamp((s.lastSeenUs + gapUs) / 1000 + 1)
            }
            closed.reverseIterator
          }
      }
  }

  /** Streaming near-dup suppression — the streaming form of the q42
    * LSH join: every micro-batch of documents (columns must include
    * `doc_id` and `text`) is admitted to a parquet store only if it is
    * not a near-duplicate (MinHash est_sim >= 0.5) of anything already
    * accepted. Per batch:
    *
    *   1. exact-content dedup within the batch (lowest doc_id per text
    *      hash — also covers sub-3-token docs, whose signature is null);
    *   2. within-batch near-dup removal via the banded self-join
    *      (higher doc_id loses, as in q42/curatedDocs);
    *   3. banded PROBE of the accumulated signature store
    *      ([[graft.queries.TextQueries.lshProbe]]): survivors colliding
    *      in >= 1 band with a stored doc and estimating >= 0.5 are
    *      suppressed — this catches PERTURBED late arrivals whose
    *      signature differs from the original, which signature-equality
    *      dedup cannot;
    *   4. survivors upsert into the partition-scoped store keyed on
    *      doc_id — so a crash-replayed batch re-admits its own docs
    *      idempotently (self-pairs are excluded from the probe) instead
    *      of double-inserting or self-suppressing.
    *
    * Scale shape: signatures are a narrow map; the probe joins only the
    * band-colliding slice of the store; the store write touches only
    * the key-hash partitions of the admitted docs. State is the store
    * itself — no unbounded in-memory dedup state. */
  def nearDupSuppressSink(stream: DataFrame, storePath: String,
                          numBuckets: Int = 64): DataStreamWriter[Row] =
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val s = batch.sparkSession
        val reserved = (0 until 8).map(k => s"h$k").toSet ++ Set("sig", "th")
        val clash = batch.columns.filter(reserved)
        require(clash.isEmpty,
          s"nearDupSuppressSink reserves columns ${clash.mkString(",")} for signature state")
        val sigCols = (0 until 8).map(k => col(s"h$k"))
        // re-delivery collapse FIRST (and guarded — see
        // [[dropRedeliveries]]): before the collapse was exact-by-
        // contract only; now a contract violation fails the batch
        // loudly, and collapsing before the signature kernel means a
        // twice-delivered row pays minhash once, not twice
        val uniq0 = dropRedeliveries(batch, "doc_id")
        val sigged = uniq0
          .withColumn("sig", graft.expressions.Exprs.minhashSig(col("text")))
          .select(col("*") +: col("sig") +: (0 until 8).map(k =>
            element_at(col("sig"), k + 1).as(s"h$k")): _*)
          .drop("sig")
          .withColumn("th", md5(col("text")))
        // 1. exact dedup inside the batch, deterministic winner (min
        // doc_id per text hash) — the batch pipeline's own canonical
        // shape (TextQueries' exact_dedup stage): a partial-aggregable
        // groupBy + semi-join, never a window on the content hash,
        // which is hot by construction on a storm batch (the r18
        // skew-safe argument at batch scale). The semi-join keeps
        // every row of the winning doc_id — hence the one-copy-per-key
        // collapse above.
        val uniq = sigged
        val canon = uniq.select(col("doc_id"), col("th"))
          .groupBy(col("th")).agg(min(col("doc_id")).as("doc_id"))
          .select(col("doc_id"))
        val exactKept = uniq.join(canon, Seq("doc_id"), "left_semi").persist()
        try {
          // 2. within-batch near-dups (null-sig docs have no bands to join)
          val batchSig = exactKept.where(col("h0").isNotNull)
            .select(col("doc_id") +: sigCols: _*)
          val batchLosers = graft.queries.TextQueries.lshPairsOf(batchSig)
            .select(col("doc_b").as("doc_id")).distinct()
          val afterBatch = exactKept.join(batchLosers, Seq("doc_id"), "left_anti")
          // 3. probe the accumulated store (if it exists yet)
          val survivors = if (Sinks.recoverUpsertStore(s, storePath)) {
            val store = Sinks.readUpsertStore(s, storePath)
            val nearHits = graft.queries.TextQueries.lshProbe(
              afterBatch.where(col("h0").isNotNull).select(col("doc_id") +: sigCols: _*),
              store.where(col("h0").isNotNull).select(col("doc_id") +: sigCols: _*))
              .select(col("doc_a").as("doc_id")).distinct()
            // exact-text late copies under a DIFFERENT doc_id (same id =
            // replay, handled by the upsert)
            val exactHits = afterBatch.join(
                store.select(col("th"), col("doc_id").as("_sid")), Seq("th"))
              .where(col("doc_id") =!= col("_sid"))
              .select(col("doc_id")).distinct()
            afterBatch
              .join(nearHits, Seq("doc_id"), "left_anti")
              .join(exactHits, Seq("doc_id"), "left_anti")
          } else afterBatch
          Sinks.upsertParquetPartitioned(s, survivors, storePath,
            Seq("doc_id"), orderCol = None, numBuckets = numBuckets)
        } finally exactKept.unpersist(false)
      }

  /** Streaming multimodal ingest (q122) — the incremental form of the
    * q119 manifest's admission decision: every micro-batch of opaque
    * media payloads (columns `doc_id`, `media` BINARY) is fingerprinted
    * by ITS modality's kernel in one narrow pass
    * ([[graft.ext.Multimodal.mediaHashes]]), near-dup-checked within
    * the batch and against the accumulated SEEN store via ONE
    * kind-keyed banded join (never all-pairs), and every row lands in
    * the store with an `admitted` flag. Per batch:
    *
    *   1. fingerprint the batch (bmp/ico lead-frame dHash, wav
    *      sign-of-energy-delta; undecodable payloads get kind 'stub',
    *      null fp — admitted by definition, nothing perceptual to
    *      compare);
    *   2. suppression in ONE kind-keyed banded join
    *      ([[graft.queries.MultimodalQueries.hammingLosers]] with the
    *      batch and the store as witnesses): a batch doc with a
    *      same-kind LOWER-id fingerprint within Hamming 4 through a
    *      shared band — in the batch or in the store — loses;
    *   3. ALL batch rows (doc_id, kind, fp, admitted) upsert into the
    *      partition-scoped store keyed on doc_id.
    *
    * The store is a SEEN store (every fingerprint ever observed, not
    * only admissions) for the same reason incrementalCurationSink's
    * sig store is: suppressed docs must still suppress THEIR later
    * near-replicas, or the N-batch result drifts from the one-shot
    * answer. Equivalence contract (the q122 oracle): with doc_ids
    * non-decreasing across batches, admitted(x) = "no same-kind doc
    * with a lower id within Hamming 4 through a shared band, over the
    * WHOLE corpus" — a pure function of the lower-id set, so batch
    * boundaries cannot move it. A crash-replayed batch recomputes the
    * identical decisions (strict-< probe) and re-upserts idempotently.
    * Out-of-order ids relax exactly as the curation sink's do: the
    * strict-< probe (which crash-replay safety requires) lets a LATE
    * lower-id near-dup pass — the store then temporarily holds both
    * copies admitted. Because every fingerprint ever observed is in
    * the store, ONE [[compactMediaStore]] pass retro-converges the
    * admitted flags to the one-shot answer (the curated store's
    * compact, transplanted).
    *
    * `capPerBucket`: None (default) runs capless — the exact,
    * order-invariant contract the q122 gate hashes. Some(cap) bounds
    * the quadratic unit on storm corpora by dropping over-cap band
    * buckets from the batch side and the store side, each by its own
    * occupancy counts (the skew-safe groupBy+broadcast shape,
    * [[graft.queries.MultimodalQueries.capBands]]; cap >= 2, checked
    * when the sink is built), trading recall exactly as the batch
    * operator's knob does
    * ([[graft.queries.MultimodalQueries.bandedHashPairs]]): near-dups
    * reachable only through hot buckets are admitted, and N-batch ==
    * one-shot no longer holds. Size it to the expected duplicate
    * multiplicity.
    *
    * Scale shape: fingerprinting is a narrow map; the probe joins only
    * the band-colliding store slice (equi-join, shuffle-pruned — the
    * store is never scanned into memory whole); the upsert rewrites
    * only the buckets the batch touches. State is the store itself. */
  def mediaNearDupSuppressSink(stream: DataFrame, storePath: String,
                               numBuckets: Int = 16,
                               capPerBucket: Option[Int] = None): DataStreamWriter[Row] = {
    capPerBucket.foreach(MultimodalQueries.requireCap)
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val s = batch.sparkSession
        // re-delivery collapse BEFORE the decode: a twice-delivered row
        // would pay the fingerprint kernel twice and double its
        // store-upsert rows; guarded ([[dropRedeliveries]]) so a key
        // delivered with two different payloads fails loudly instead
        // of nondeterministically picking one
        val hashes = graft.ext.Multimodal.mediaHashes(s,
          dropRedeliveries(batch.select(col("doc_id"), col("media")), "doc_id"))
          .toDF().persist()
        try {
          val fp = hashes.where(col("fp").isNotNull)
          // within-batch self-join + store probe FUSED into ONE
          // kind-keyed band join (r22, guide §2.4): both losers are
          // "∃ same-kind fingerprint with a LOWER id within Hamming 4
          // through a shared band" — the only difference was where the
          // witness lived (batch vs store), so the b-side is simply the
          // union of the two witness frames. The occupancy cap stays PER
          // FRAME (batch and store each cut by their own counts), which
          // is the capped (q123) path's storm-flip semantics.
          //
          // committed-store check + crash recovery in one step (r18
          // ADVICE, the incrementalCurationSink fix transplanted): a
          // bare fs.exists(dst) reads a store stranded at <path>_old by
          // a crashed merge as ABSENT — a crash-replayed batch would
          // then silently skip cross-batch suppression and upsert wrong
          // admitted=true flags — and a crashed half-creation (dir, no
          // committed meta) as readable, wedging every retry on parquet
          // schema inference
          val witnesses = if (Sinks.recoverUpsertStore(s, storePath))
            Seq(fp, Sinks.readUpsertStore(s, storePath).where(col("fp").isNotNull))
          else Seq(fp)
          val suppressed = MultimodalQueries
            .hammingLosers(fp, witnesses, Seq("kind"), capPerBucket)
            .withColumn("_s", lit(true))
          val out = hashes.join(suppressed, Seq("doc_id"), "left")
            .select(col("doc_id"), col("kind"), col("fp"),
              coalesce(!col("_s"), lit(true)).as("admitted"))
          Sinks.upsertParquetPartitioned(s, out, storePath, Seq("doc_id"),
            orderCol = None, numBuckets = numBuckets)
        } finally { hashes.unpersist(false); () }
      }
  }

  /** Incremental curation — the staged batch pipeline
    * ([[graft.queries.TextQueries.curatedDocsOf]]) re-expressed as a
    * micro-batch loop: new documents arrive, the stages re-run at the
    * BATCH's survivor volume (never over the accumulated corpus), and
    * two partition-scoped stores merge idempotently. This is the
    * streaming form of the reference's rerun-and-upsert loop
    * (ETL_Multi_Lvl_API/extract.py:108-121, keyed upsert at
    * load.py:117-163), applied to the curation pipeline.
    *
    * Two stores, because curation state is WIDER than curation output:
    *
    *  - `sigPath` — the SEEN store: (doc_id, th, h0..h7) for every
    *    exact-dedup survivor ever observed, INCLUDING docs that later
    *    lost near-dup or failed the quality floor. Batch semantics
    *    need this: near-dup losers are computed among ALL exact-dedup
    *    survivors BEFORE the quality filter, so a low-quality doc
    *    still suppresses its own later-arriving near-duplicates (and a
    *    doc beaten by a near-dup still suppresses ITS later replicas —
    *    the transitive-loser chain a curated-output-only probe gets
    *    wrong, see the StreamingSpec N-batches==one-batch case).
    *  - `curatedPath` — the OUTPUT store: the input columns + `quality`
    *    for documents that survive every stage; row-equal to
    *    `curatedDocsOf` over the union of all batches.
    *
    * Per micro-batch (stages in the batch pipeline's order):
    *
    *   1. URL blocklist (stateless narrow map) — if configured;
    *   2. exact dedup within the batch (lowest doc_id per text hash);
    *   3. exact dedup against the seen store: a batch doc whose text
    *      hash is stored under a LOWER doc_id is dropped (a same-id
    *      hit is this batch replaying after a crash — kept, so replays
    *      are idempotent rather than self-suppressing; a higher-id hit
    *      means THIS doc is the batch canonical — admitted, see the
    *      out-of-order contract below);
    *   4. the batch's exact survivors upsert into the seen store —
    *      state lands BEFORE output, so a crash between the two
    *      writes replays into a seen store that already has this
    *      batch (harmless by 3's same-id rule), never into an output
    *      store ahead of its state;
    *   5. within-batch near-dup removal (banded self-join, higher
    *      doc_id of each est_sim >= 0.5 pair loses — as in q42);
    *   6. banded PROBE of the seen store: a survivor colliding in >= 1
    *      band with a LOWER-id stored signature at est_sim >= 0.5 is
    *      suppressed (the lower-id condition keeps a crash-replayed
    *      batch from being suppressed by its own earlier attempt's
    *      higher-id entries);
    *   7. quality scoring + floor; survivors (input columns +
    *      `quality`) upsert into the curated store keyed on doc_id.
    *
    * Equivalence contract (what the StreamingSpec case proves): if
    * doc_ids are non-decreasing across arrival order — true whenever
    * ids are assigned at ingest, as the reference's loop does — then
    * after any number of micro-batches the curated store is row-equal
    * to one batch `curatedDocsOf(union, stages)`. Out-of-order ids
    * relax PER TRIGGER, uniformly across both dedup stages: every
    * store-probe suppression is gated on a strictly LOWER stored id —
    * step 3's `_sid < doc_id` and step 6's `doc_b < doc_a` — which is
    * exactly what crash-replay safety requires (a replayed batch must
    * not be suppressed by its own earlier attempt's entries), and
    * which therefore lets a late arrival with an id BELOW its
    * already-admitted duplicate (exact or near) pass the probe: the
    * curated store then temporarily holds both copies. An admitted doc
    * is never evicted by a TRIGGER either way. Feed monotone ids to
    * get the exact batch semantics per trigger (under monotone ids a
    * late copy always carries a HIGHER id, so the lower-id guards
    * behave exactly like unconditional first-arrival-wins), or run the
    * [[compactCuratedStore]] maintenance pass to retro-canonicalize
    * the accumulated store: because the lower-id admission rule keeps
    * every batch-canonical (minimum-id) copy's row — text, columns,
    * quality — in the stores, ONE compact converges an out-of-order
    * corpus's admissions, exact and near-dup alike, to the batch
    * answer. (Before r15, step 3 suppressed on ANY other stored id;
    * the late lower-id exact copy's row was then never stored and the
    * exact stage was documented uncompensatable — the lower-id guard
    * is what closed that gap.)
    *
    * Corpus-trained stages (`repeatedLineMinDf`, `maxRarity`,
    * `budgetPerSource`) are REJECTED here by construction: their
    * statistics are functions of the whole corpus, so a new batch
    * retroactively re-scores documents admitted long ago — that is a
    * periodic batch recuration over the landed corpus (the reference's
    * own rerun semantics), not a per-trigger increment. Run
    * `curatedDocsOf` with those stages on a schedule instead.
    *
    * Scale shape: every per-batch step is O(batch) — the seen-store
    * probe joins only the band-colliding slice (the store side of the
    * equi-join is partition-pruned to matching band keys by the
    * shuffle, never scanned into memory whole), the exact-dup check is
    * an equi-join on the text hash, and both store merges rewrite only
    * the key-hash partitions the batch touches
    * ([[Sinks.upsertParquetPartitioned]]). No unbounded executor-memory
    * state: the state IS the stores. */
  def incrementalCurationSink(stream: DataFrame, curatedPath: String, sigPath: String,
                              stages: graft.queries.TextQueries.CurationStages =
                                graft.queries.TextQueries.CurationStages(),
                              numBuckets: Int = 64): DataStreamWriter[Row] = {
    require(stages.repeatedLineMinDf.isEmpty && stages.spanDedupMinDf.isEmpty
        && stages.maxRarity.isEmpty && stages.budgetPerSource.isEmpty,
      "repeated-line / span-dedup / rarity / budget stages are corpus-trained " +
        "and re-rank retroactively; run them as periodic batch recuration " +
        "(curatedDocsOf over the landed corpus), not per micro-batch")
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        curateMicroBatch(batch, curatedPath, sigPath, stages, numBuckets)
      }
  }

  private def curateMicroBatch(batch: DataFrame, curatedPath: String, sigPath: String,
                               stages: graft.queries.TextQueries.CurationStages,
                               numBuckets: Int): Unit = {
    val s = batch.sparkSession
    val inputCols = batch.columns.toSeq
    val reserved = (0 until 8).map(k => s"h$k").toSet ++ Set("sig", "th")
    val clash = inputCols.filter(reserved)
    require(clash.isEmpty,
      s"incrementalCurationSink reserves columns ${clash.mkString(",")} for signature state")
    val sigCols = (0 until 8).map(k => col(s"h$k"))
    // 1. URL blocklist — stateless, so it runs before any keyed state
    val filtered =
      if (stages.blockedDomains.isEmpty) batch
      else graft.queries.CurationQueries.urlFilter(batch, stages.blockedDomains)
        .where(col("n_blocked") === 0)
        .select(inputCols.map(col): _*)
    // re-delivery collapse first, guarded ([[dropRedeliveries]] — a
    // twice-delivered row would survive the exact-dedup semi-join in
    // both copies; a key re-delivered with a DIFFERENT payload fails
    // the batch loudly), and pre-signature so re-deliveries never pay
    // the minhash kernel twice
    val uniq = dropRedeliveries(filtered, "doc_id")
    val sigged = uniq
      .withColumn("sig", graft.expressions.Exprs.minhashSig(col("text")))
      .select(col("*") +: (0 until 8).map(k =>
        element_at(col("sig"), k + 1).as(s"h$k")): _*)
      .drop("sig")
      .withColumn("th", md5(col("text")))
    // 2. exact dedup inside the batch, deterministic winner (min
    // doc_id per text hash) — the batch exact_dedup stage's canonical
    // groupBy + semi-join shape, not a window on the hot content hash
    // (see nearDupSuppressSink's step 1)
    val canon = sigged.select(col("doc_id"), col("th"))
      .groupBy(col("th")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val batchExact = sigged.join(canon, Seq("doc_id"), "left_semi")
    // committed-store check + crash recovery in one step: a bare
    // fs.exists(dir) would treat a crashed half-creation (no meta, no
    // committed footers) as readable and a store stranded at _old by a
    // crashed rebucket as absent — the first wedges every retry on
    // schema inference, the second silently skips one batch's
    // cross-batch suppression
    val seenExists = Sinks.recoverUpsertStore(s, sigPath)
    // 3. exact dedup against the seen store: a LOWER stored id holding
    // this text hash = the batch-canonical copy already exists — drop.
    // Same-id = this batch replaying (kept); a HIGHER stored id means
    // THIS doc is the batch canonical: admit it (its text/columns must
    // reach the stores or no compact could ever restore the batch
    // answer) and let compactCuratedStore retire the higher-id copy.
    // Mirrors step 6's doc_b < doc_a guard — one admission rule for
    // both dedup stages, replay-safe by the same argument.
    val exactKept = (if (seenExists) {
      val seenTh = Sinks.readUpsertStore(s, sigPath)
        .select(col("th").as("_sth"), col("doc_id").as("_sid"))
      batchExact.join(seenTh,
        batchExact("th") === col("_sth") && col("_sid") < batchExact("doc_id"),
        "left_anti")
    } else batchExact).persist()
    // pin exactKept BEFORE step 4 mutates the store: its plan embeds a
    // read of the pre-upsert seen-store files, and steps 5-7 consume it
    // again after the merge has renamed/deleted those files — the
    // count() materializes every partition now, so the later consumers
    // hit cache instead of a recomputation that would re-resolve a
    // file listing the merge already rewrote
    exactKept.count()
    try {
      // 4. state before output: the batch's exact survivors enter the
      // seen store first (crash between the writes replays harmlessly)
      Sinks.upsertParquetPartitioned(s,
        exactKept.select(col("doc_id") +: col("th") +: sigCols: _*),
        sigPath, Seq("doc_id"), orderCol = None, numBuckets = numBuckets)
      // 5+6 FUSED (r22, guide §2.4 — remove a whole join subtree): the
      // seen store was upserted in step 4, so it now holds EVERY batch
      // exact survivor's signature alongside the pre-batch entries. One
      // banded probe of that post-merge store under the strict
      // doc_b < doc_a guard therefore yields exactly the union of the
      // old step 5 (within-batch pairs: both endpoints are store rows
      // now, higher id loses — the same rule) and the old step 6
      // (lower-id PRE-batch witness), because a witness needs only to
      // EXIST in the store, not to itself survive: suppression sets are
      // witness-monotone, so removal order never changes them. The
      // separate lshPairsOf self-join the sink ran per trigger was
      // computing a strict subset of what this probe already sees —
      // 3-4 redundant exchanges (band explode ×2, pair join, distinct)
      // per trigger. Crash-replay safety is unchanged: a replayed
      // batch's own earlier-attempt entries carry the SAME ids, which
      // the strict < excludes (lshProbe's self-pair family).
      // (store still absent here ⇔ it did not exist AND this batch was
      // empty — step 4's merge refuses to create a zero-file store; an
      // empty batch has nothing to suppress)
      val survivors = if (Sinks.recoverUpsertStore(s, sigPath)) {
        val storeSig = Sinks.readUpsertStore(s, sigPath)
          .where(col("h0").isNotNull).select(col("doc_id") +: sigCols: _*)
        val nearHits = graft.queries.TextQueries.lshProbe(
            exactKept.where(col("h0").isNotNull).select(col("doc_id") +: sigCols: _*),
            storeSig)
          .where(col("doc_b") < col("doc_a"))
          .select(col("doc_a").as("doc_id")).distinct()
        exactKept.join(nearHits, Seq("doc_id"), "left_anti")
      } else exactKept
      // 7. quality floor, then the curated output merge
      val curated = graft.queries.TextQueries.withQuality(survivors)
        .where(col("quality") >= stages.qualityFloor)
        .select(inputCols.map(col) :+ col("quality"): _*)
      Sinks.upsertParquetPartitioned(s, curated, curatedPath,
        Seq("doc_id"), orderCol = None, numBuckets = numBuckets)
    } finally exactKept.unpersist(false)
  }

  /** Maintenance compact for [[incrementalCurationSink]]'s stores: the
    * batch pipeline's BOTH dedup rules re-run over the ACCUMULATED seen
    * store, with the losers deleted from the curated store — the
    * compensator for the sink's out-of-order admissions (see the
    * equivalence contract above: a late arrival with an id BELOW its
    * already-admitted duplicate — exact or near — passes the lower-id
    * store guards, because those guards are what crash-replay safety
    * requires, and the curated store then holds both copies).
    *
    * Two loser sets, mirroring the batch stage order:
    *
    *  - EXACT: within every text-hash group of the seen store, each
    *    non-minimum doc_id (batch's exact stage keeps only the min).
    *    Covers null-signature (sub-3-token) docs too — the group key
    *    is the text hash, not the signature.
    *  - NEAR-DUP: the banded est_sim >= 0.5 pairs over every stored
    *    signature (exactly the batch near-dup stage over the union
    *    corpus's exact survivors — identical-signature exact copies
    *    collide at est_sim 1.0, so a pair involving any copy yields
    *    the same loser decision as the pair with its canonical), each
    *    pair's higher doc_id.
    *
    * Every streamed suppression is gated on a lower stored id, and the
    * seen store holds every batch-canonical (min-id) row, so streamed
    * admissions are a SUPERSET of the batch answer whose excess is
    * exactly these loser sets: one compact converges the curated store
    * to the batch answer, for exact and near-dup divergence alike —
    * StreamingSpec pins both equalities, StreamSoak's ooo mode measures
    * the combined pass at corpus scale. The SEEN store is deliberately
    * untouched: its contract is to hold every exact-dedup survivor
    * ever observed, losers included, so future batches keep their full
    * suppression evidence.
    *
    * Idempotent (a second compact finds the same losers already gone)
    * and incremental in cost: the exact pass is one map-side-combined
    * aggregate on the text hash, the pair join is the banded LSH join
    * over the store — O(colliding candidates), never all-pairs — and
    * the delete rewrites only the buckets holding victims
    * ([[Sinks.deleteFromUpsertStoreLocked]]). Concurrency contract:
    * the ENTIRE pass — reads, loser computation, delete — runs under
    * BOTH stores' writer fences ([[Sinks.withStoreFences]]), so a
    * concurrent trigger's merge fails loudly on the fence instead of
    * landing between the compact's read and its delete and leaving the
    * delete acting on a stale loser set (and symmetrically, a compact
    * started during a live trigger fails on the fence itself). Run it
    * between drains (the sink is Trigger.AvailableNow micro-batch).
    * Returns the number of curated-store rows removed. */
  def compactCuratedStore(spark: SparkSession, curatedPath: String,
                          sigPath: String): Long =
    Sinks.withStoreFences(spark, Seq(curatedPath, sigPath)) {
      val sigCols = (0 until 8).map(k => col(s"h$k"))
      if (!Sinks.recoverUpsertStoreLocked(spark, sigPath) ||
          !Sinks.recoverUpsertStoreLocked(spark, curatedPath)) 0L
      else {
        val seen = Sinks.readUpsertStore(spark, sigPath)
        // exact losers: non-minimum ids per text-hash group
        val canon = seen.groupBy(col("th")).agg(min(col("doc_id")).as("_mn"))
        val exactLosers = seen.select(col("th"), col("doc_id"))
          .join(canon, Seq("th"))
          .where(col("doc_id") > col("_mn"))
          .select(col("doc_id"))
        // near-dup losers: higher id of every banded est_sim >= 0.5 pair
        val storeSig = seen.where(col("h0").isNotNull)
          .select(col("doc_id") +: sigCols: _*)
        val nearLosers = graft.queries.TextQueries.lshPairsOf(storeSig)
          .select(col("doc_b").as("doc_id"))
        val losers = exactLosers.unionByName(nearLosers).distinct()
        // scope the delete to losers actually present in the curated
        // store: the count is the caller's signal, and the delete then
        // touches only buckets that truly change. persist + count
        // materializes the victim set BEFORE the delete mutates the
        // files its lineage reads.
        val present = Sinks.readUpsertStore(spark, curatedPath)
          .select(col("doc_id"))
          .join(losers, Seq("doc_id"), "left_semi")
          .persist()
        try {
          val n = present.count()
          if (n > 0) Sinks.deleteFromUpsertStoreLocked(spark, curatedPath, present)
          n
        } finally { present.unpersist(false); () }
      }
    }

  /** Maintenance compact for [[mediaNearDupSuppressSink]]'s store —
    * [[compactCuratedStore]]'s loser pass transplanted to the media
    * seen store: the one-shot pairwise rule re-run over the ACCUMULATED
    * fingerprints, with surviving `admitted=true` losers flipped to
    * false. Compensates the sink's out-of-order admissions: the
    * strict-< store probe (which crash-replay safety requires) lets a
    * late arrival whose id is BELOW its already-admitted near-dup pass,
    * so the store temporarily holds both copies admitted.
    *
    * Convergence argument (the media analogue of the curated store's):
    * streamed admissions are a SUPERSET of the one-shot answer — every
    * streamed suppression is witnessed by a lower-id same-kind
    * fingerprint that is itself in the store (all rows upsert), so a
    * streamed-suppressed doc is a pairwise loser over the final store
    * too — and the excess is exactly the pairwise loser set computed
    * here (admitted(x) is pure pairwise, never greedy/chained). One
    * pass therefore converges the flags to the one-shot answer for any
    * arrival order; a second pass finds the losers already demoted and
    * returns 0 (idempotence).
    *
    * `capPerBucket` mirrors the sink's knob for storm corpora (the
    * banded self-join's occupancy bound, same recall trade, cap >= 2
    * checked before the fence is taken); leave None to converge the
    * exact contract the q122 gate hashes.
    *
    * Cost shape: the loser pass is the kind-keyed banded self-join over
    * the store — O(colliding candidates), never all-pairs — and the
    * demotion rewrites only the buckets holding flipped rows. The
    * ENTIRE pass (read, loser set, demote) runs under the store's
    * writer fence, so a concurrent trigger's merge fails loudly instead
    * of landing between the read and the flip. Returns the number of
    * rows demoted. */
  def compactMediaStore(spark: SparkSession, storePath: String,
                        capPerBucket: Option[Int] = None): Long = {
    capPerBucket.foreach(MultimodalQueries.requireCap)
    Sinks.withStoreFences(spark, Seq(storePath)) {
      if (!Sinks.recoverUpsertStoreLocked(spark, storePath)) 0L
      else {
        val store = Sinks.readUpsertStore(spark, storePath)
        val fp = store.where(col("fp").isNotNull)
          .select(col("doc_id"), col("kind"), col("fp"))
        val losers = MultimodalQueries.hammingLosers(fp, Seq(fp), Seq("kind"), capPerBucket)
        // persist + count materializes the demotion set BEFORE the
        // merge mutates the files its lineage reads (the compact's
        // established read-then-rewrite discipline)
        val demote = store.join(losers, Seq("doc_id"), "left_semi")
          .where(col("admitted"))
          .select(col("doc_id"), col("kind"), col("fp"),
            lit(false).as("admitted"))
          .persist()
        try {
          val n = demote.count()
          if (n > 0)
            Sinks.upsertParquetPartitionedLocked(spark, demote, storePath,
              Seq("doc_id"), orderCol = None)
          n
        } finally { demote.unpersist(false); () }
      }
    }
  }

  /** foreachBatch upsert sink: every micro-batch merges into the target
    * parquet with last-write-wins per key — the streaming form of the
    * reference's idempotent re-load.
    *
    * `numBuckets = Some(n)` backs the sink with the partition-scoped
    * store ([[Sinks.upsertParquetPartitioned]]): each micro-batch then
    * rewrites only the key-hash partitions it touches instead of the
    * whole table — the difference between an O(batch) and an O(table)
    * write per trigger, which is what makes a continuous merge viable
    * when the accumulated store is 100 TB and the batch is 1 GB. The
    * default (None) keeps the single-directory layout for small stores
    * whose readers expect plain `spark.read.parquet(path)`. */
  def upsertSink(stream: DataFrame, path: String, keys: Seq[String],
                 orderCol: Option[String] = None,
                 numBuckets: Option[Int] = None): DataStreamWriter[Row] =
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        numBuckets match {
          case Some(n) =>
            Sinks.upsertParquetPartitioned(batch.sparkSession, batch, path, keys, orderCol, n)
          case None =>
            Sinks.upsertParquet(batch.sparkSession, batch, path, keys, orderCol)
        }
      }

  /** Incremental distinct-cardinality sketch: each micro-batch folds
    * its keys into a [[graft.ext.HllAgg]] register array and
    * max-merges it into a ONE-row store — the streaming form of q95's
    * sketch. Registers merge by MAX (associative, commutative,
    * IDEMPOTENT), so the store converges to exactly the batch sketch
    * of everything ever delivered regardless of micro-batch
    * boundaries, ordering, duplicate delivery, or full replay — the
    * crash-replay-safe cardinality the exact-count path cannot offer
    * without a dedup store the size of the key space. The whole
    * READ-merge-write runs inside the store's writer fence
    * ([[Sinks.withStoreFences]], mutating through the Locked variant):
    * a blind fenced write alone would let two concurrent writers both
    * read the same prev registers and the second overwrite the first's
    * merge — idempotence cannot recover keys that were never merged
    * in. A width mismatch against an existing store (a different `b`)
    * fails loudly rather than zip-truncating. StreamingSpec pins
    * stream-final == batch registers under multi-batch delivery and a
    * fresh-checkpoint full replay. */
  def hllRegisterSink(stream: DataFrame, keyCol: String, storePath: String,
                      b: Int): DataStreamWriter[Row] =
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val sp = batch.sparkSession
        import sp.implicits._
        val batchRegs = batch.select(col(keyCol).cast("string")).as[String]
          .select(new graft.ext.HllAgg(b).toColumn).collect().head
        Sinks.withStoreFences(sp, Seq(storePath)) {
          val prev = Sinks.readWholeTableLocked(sp, storePath)
            .flatMap(_.select(col("regs")).as[Array[Long]].collect().headOption)
          prev.foreach(p => require(p.length == batchRegs.length,
            s"register width mismatch: store holds ${p.length}, sink built " +
              s"${batchRegs.length} (different b?) — refusing to truncate"))
          val merged = prev.fold(batchRegs)(p =>
            p.zip(batchRegs).map { case (a, b2) => math.max(a, b2) })
          Sinks.upsertWholeTableLocked(sp, Seq((1, merged)).toDF("k", "regs"),
            storePath, Seq("k"), None)
        }
      }
}
