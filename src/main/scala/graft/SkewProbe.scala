package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Hot-bucket straggler probe (dev main) — the measurement behind the
  * r18 skew-safe cap/collapse rewrite (r17 verdict #1).
  *
  * Both rewritten sites share one failure shape: a count-over-window
  * whose partition key is hot BY CONSTRUCTION on templated corpora
  * (the 16-bit band bucket of [[graft.queries.MultimodalQueries]]'s
  * perceptual-hash pairing; the exact-replica signature group of
  * [[graft.queries.TextQueries.dupClustersOfSignatures]]). A window
  * partition is co-located and buffered in ONE task, and AQE's skew
  * optimizer cannot split a window — so at 100 TB the hottest bucket's
  * entire row set serializes through a single straggler task. The
  * replacement is the partial-aggregable form: groupBy (map-side
  * combine collapses the hot key BEFORE the shuffle) joined back —
  * broadcast for the bounded band-bucket keyspace, AQE-skew-splittable
  * for the unbounded signature space.
  *
  * This probe builds corpora with ONE deliberately hot key (`hotN`
  * copies of a single template among `hotN` distinct rows), runs each
  * site's OLD window form (inlined here as a clearly-marked control —
  * it no longer exists in the engine) against the engine's shipped
  * form, and reports wall plus per-task max/median from a task-end
  * listener: the straggler is the max/median ratio.
  *
  * Usage: runMain graft.SkewProbe [hotN]   (default 2,000,000)
  * Dev harness — not part of the driver contract surface.
  */
object SkewProbe {

  private val taskDurs = new java.util.concurrent.ConcurrentLinkedQueue[Long]()

  private def measure(spark: SparkSession, name: String)(df: => DataFrame): Unit = {
    spark.catalog.clearCache()
    taskDurs.clear()
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    val wall = (System.nanoTime() - t0) / 1e9
    // let late task-end events land before the read (the public API
    // has no bus-drain hook; task-end delivery is ms-scale)
    Thread.sleep(500)
    import scala.jdk.CollectionConverters._
    val ds = taskDurs.asScala.toSeq.sorted
    val mx = if (ds.isEmpty) 0L else ds.last
    val p50 = if (ds.isEmpty) 0L else ds(ds.size / 2)
    println(f"SKEWPROBE $name%-34s wall=$wall%7.2f s  tasks=${ds.size}%5d  max_task=$mx%7d ms  p50_task=$p50%6d ms  max/p50=x${if (p50 > 0) mx.toDouble / p50 else 0.0}%.1f")
  }

  def main(args: Array[String]): Unit = {
    val hotN = args.headOption.map(_.toLong).getOrElse(2000000L)
    val spark = LocalSession(32)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        taskDurs.add(e.taskInfo.duration)
    })

    // ---- site 1: the banded occupancy cap -------------------------------
    // hotN docs share ONE dhash (all four of its band buckets hot: the
    // replica storm) + hotN docs with distinct hashes (the benign tail).
    // repartition(32) randomizes placement so map-side combine, not a
    // lucky pre-grouping, is what collapses the hot key.
    val hashes = spark.range(hotN).select(col("id").as("doc_id"),
        lit(0x0123456789ABCDL).as("dhash"))
      .unionAll(spark.range(hotN, 2 * hotN).select(col("id").as("doc_id"),
        (xxhash64(col("id")) % 100000000L).as("dhash")))
      .repartition(32).persist()
    hashes.count()
    val bands = graft.queries.MultimodalQueries.hammingBands(hashes)
    // CONTROL: the pre-r18 shape — count over a window on the hot key.
    // This code exists ONLY here, as the probe's baseline.
    measure(spark, "cap_window_CONTROL") {
      import org.apache.spark.sql.expressions.Window
      bands.withColumn("_n",
          count(lit(1)).over(Window.partitionBy(col("band"), col("bkey"))))
        .where(col("_n") <= 8).drop("_n")
    }
    // ENGINE (stage-isolated): the shipped shape — a partial-aggregable
    // groupBy occupancy count whose <=cap survivor list broadcasts back
    // onto the band rows, hot-bucket rows dropped map-side.
    measure(spark, "cap_groupby_ENGINE") {
      graft.queries.MultimodalQueries.capBands(bands, Nil, cap = 8)
    }
    // ENGINE (end-to-end): bandedHashPairs' full chain — cap filter +
    // pair join + Hamming tail (the benign distinct-hash residue; the
    // hot buckets are dropped before the join).
    measure(spark, "cap_pairs_ENGINE_e2e") {
      graft.queries.MultimodalQueries.bandedHashPairs(hashes, cap = 8)
    }
    hashes.unpersist()

    // ---- site 2: the signature-group collapse ---------------------------
    // hotN docs share ONE 8-hash signature (the exact-replica storm) +
    // hotN docs with distinct signatures.
    val sig = spark.range(hotN).select(col("id").as("doc_id") +:
        (0 until 8).map(k => lit(k.toLong).as(s"h$k")): _*)
      .unionAll(spark.range(hotN, 2 * hotN).select(col("id").as("doc_id") +:
        (0 until 8).map(k => xxhash64(col("id"), lit(k)).as(s"h$k")): _*))
      .repartition(32).persist()
    sig.count()
    val sigCols = (0 until 8).map(k => col(s"h$k"))
    // CONTROL: the pre-r18 shape — rep + members as window aggregates
    // over the full-signature partition (the storm dimension).
    measure(spark, "collapse_window_CONTROL") {
      import org.apache.spark.sql.expressions.Window
      sig.withColumn("rep", min(col("doc_id")).over(Window.partitionBy(sigCols: _*)))
        .withColumn("members", count(lit(1)).over(Window.partitionBy(sigCols: _*)))
    }
    // ENGINE: the shipped partial-agg + join-back collapse, isolated to
    // the same (doc_id, sig, rep, members) frame the window produced.
    measure(spark, "collapse_groupby_ENGINE") {
      val stats = sig.groupBy(sigCols: _*)
        .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("members"))
        .select((0 until 8).map(k => col(s"h$k").as(s"g$k")) :+
          col("rep") :+ col("members"): _*)
      val cond = (0 until 8).map(k => col(s"h$k") <=> col(s"g$k")).reduce(_ && _)
      sig.join(stats, cond).drop((0 until 8).map(k => s"g$k"): _*)
    }
    sig.unpersist()

    // ---- site 3: the ANN per-query top-k cut (r18 verdict, fixed r19) --
    // The partition key here is not "hot" by the sweep's definition — it
    // is FEW AND HUGE BY CONSTRUCTION: nQueries=10 per-query frames of
    // hotN scored candidates each (the whole scored corpus), so a rank
    // window shuffles everything into 10 sort tasks AQE cannot split,
    // while 22 of the 32 cores idle. The engine form (TopKAgg heap)
    // folds map-side per-partition heaps and exchanges only k-sized
    // buffers. Scores are synthetic (xxhash-derived) — the cut's cost
    // model is independent of how the score was produced.
    val nQ = 10
    val scored = spark.range(nQ * hotN).select(
        (col("id") % nQ).as("query_id"),
        (col("id") / nQ).as("cand_id"),
        (xxhash64(col("id")).cast("double") / 1e18).as("score"))
      .repartition(32).persist()
    scored.count()
    // CONTROL: the pre-r19 shape — row_number over the per-query frame.
    measure(spark, "annrank_window_CONTROL") {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("cand_id").asc)
      scored.withColumn("rank", row_number().over(w)).where(col("rank") <= 5)
    }
    // ENGINE: the shipped partial-aggregable heap cut.
    measure(spark, "annrank_heap_ENGINE") {
      graft.ext.TopKAgg.perGroupTopK(scored, "query_id", "score", "cand_id", 5)
    }
    scored.unpersist()

    // ---- site 4: the text-LM hot context (r20 verdict lead item) --------
    // The distinct-bigram frame with ONE dominant context: hotN distinct
    // successors under context "the" (a web corpus's hottest token keeps
    // a vocabulary-sized successor list) + hotN singleton contexts (the
    // benign tail). The control is the pre-r21 q91 shape — sum +
    // row_number windows partitioned by context, which co-locate and
    // sort the hot context's entire successor list in ONE task AQE
    // cannot split. Engine forms: q91's fused sum+TopKStrAgg heap
    // aggregation (k-sized buffers exchange; map-side combine) and
    // q97's groupBy total + broadcast join-back.
    val bigrams = spark.range(hotN).select(lit("the").as("context"),
        concat(lit("t"), col("id")).as("next_tok"),
        (xxhash64(col("id")) % 97L + 49L).as("n_pair"))
      .unionAll(spark.range(hotN, 2 * hotN).select(
        concat(lit("c"), col("id")).as("context"),
        lit("x").as("next_tok"), lit(1L).as("n_pair")))
      .repartition(32).persist()
    bigrams.count()
    // CONTROL: the pre-r21 shape — window sum + rank over the context.
    measure(spark, "lmctx_window_CONTROL") {
      import org.apache.spark.sql.expressions.Window
      val byCtx = Window.partitionBy(col("context"))
      bigrams
        .withColumn("n_ctx", sum(col("n_pair")).over(byCtx))
        .withColumn("rk", row_number().over(
          byCtx.orderBy(col("n_pair").desc, col("next_tok"))))
        .where(col("n_ctx") >= 50 && col("rk") <= 3)
        .select(col("context"), col("next_tok"), col("n_pair"), col("n_ctx"),
          (col("n_pair").cast("double") / col("n_ctx")).as("p"))
    }
    // ENGINE (q91 form): ONE fused partial-aggregable sum + heap cut.
    measure(spark, "lmctx_heap_ENGINE") {
      val topk = org.apache.spark.sql.functions.udaf(new graft.ext.TopKStrAgg(3),
        org.apache.spark.sql.Encoders.product[graft.ext.TopKAgg.SEntry])
      bigrams.groupBy(col("context"))
        .agg(sum(col("n_pair")).as("n_ctx"),
          topk(col("n_pair").cast("double"), col("next_tok")).as("tk"))
        .where(col("n_ctx") >= 50)
        .select(col("context"), col("n_ctx"), explode(col("tk.items")).as("e"))
        .select(col("context"), col("e.payload").as("next_tok"),
          col("e.sortKey").cast("long").as("n_pair"), col("n_ctx"),
          (col("e.sortKey").cast("long").cast("double") / col("n_ctx")).as("p"))
    }
    // CONTROL for the q97 shape (all rows keep their n_ctx — no rank,
    // no filter, so the output volume matches the joinback engine form
    // below and walls compare apples-to-apples)
    measure(spark, "lmctx_ctxsum_window_CONTROL") {
      import org.apache.spark.sql.expressions.Window
      bigrams.withColumn("n_ctx",
        sum(col("n_pair")).over(Window.partitionBy(col("context"))))
    }
    // ENGINE (q97 form): groupBy context total, broadcast join-back —
    // the n_ctx attachment without re-shuffling the pair frame.
    measure(spark, "lmctx_joinback_ENGINE") {
      val ctx = bigrams.groupBy(col("context")).agg(sum(col("n_pair")).as("n_ctx"))
      bigrams.join(broadcast(ctx), Seq("context"))
    }
    bigrams.unpersist()
    spark.stop()
  }
}
