package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-soak harness: replicates the sf0.1 tables Nx with key offsets
  * (default 10x -> 6M-row lineitem, 50k docs with 10 exact replicas
  * each — a worst-case duplication corpus) and times the headline
  * queries at both scales. The per-query ratio is the evidence behind
  * BENCH_NOTES' scale claims: narrow-map + bounded-candidate plans
  * should scale ~linearly in rows even when the duplicate density
  * multiplies the candidate-pair volume.
  *
  * Usage: runMain graft.ScaleSoak [srcSfDir] [outDir] [reps]
  * Dev harness — not part of the driver contract surface.
  */
object ScaleSoak {

  private val soakQueries = Seq(
    "q20_pricing_summary", "q21_top_revenue_orders", "q22_region_revenue",
    "q36_winnow_fingerprints", "q37_curation_pipeline",
    "q41_minhash_signatures", "q42_minhash_lsh_pairs", "q89_edit_verified_pairs",
    "q43_ngram_jaccard_pairs",
    "q49_dup_clusters", "q53_packing_plan", "q54_decontamination",
    "q55_repetition_stats", "q57_containment_pairs", "q63_repeated_line_removal",
    "q64_budget_select", "q88_domain_mixture", "q65_chunk_windows", "q66_url_filter", "q67_cluster_reps",
    "q68_bigram_rarity", "q69_curation_stages",
    "q70_span_decontamination", "q71_span_dedup", "q72_semantic_dedup",
    "q73_importance_weights", "q74_rule_filters", "q75_kmeans_refine",
    "q76_semantic_dedup_capped", "q77_semantic_dedup_refined",
    "q78_semantic_curation_stages", "q79_repetition_signals",
    "q45_ann_bruteforce_topk", "q46_lsh_bucket_pairs", "q47_ivf_topk",
    "q48_embedding_neardup", "q87_pq_topk", "q82_bmp_decode", "q83_bmp_resize",
    "q84_image_neardup_pairs", "q85_frame_decode", "q86_wav_decode",
    "q92_unimax_mixture", "q93_cms_heavy_hitters", "q94_bloom_decontamination",
    "q95_hll_distinct", "q96_host_pagerank", "q97_lm_surprisal",
    "q99_interleave_manifest", "q100_pretraining_recipe",
    "q101_surprisal_bands", "q102_tfidf_terms",
    "q103_pagerank_fixpoint", "q104_image_dup_clusters",
    "q105_stream_hll_state", "q106_stream_curation",
    "q111_stream_sessionize",
    "q107_kmeans_fixpoint", "q108_bpe_train", "q109_bpe_encode",
    "q110_mmr_topk", "q112_audio_neardup_pairs", "q113_audio_dup_clusters",
    "q114_surprisal_bands_approx", "q115_mmr_ivf_topk", "q124_ivf_recall_disclosure",
    "q116_image_curation_manifest", "q117_audio_curation_manifest",
    "q119_multimodal_dedup_manifest", "q120_stream_session_timeout",
    "q121_image_neardup_cap256", "q122_stream_media_ingest",
    "q43_capped_df64", "q42_capped_b64", "q112_cap256", "q84_cap256",
    "q122_cap64")

  /** Non-registry soak subjects: the q43 df-cap path (maxDf=64) and the
    * q42 band-bucket cap — the bounded-curve evidence for the
    * dense-corpus mitigations. Oracle queries stay cap-off (exact). */
  private val extraRunners: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q43_capped_df64" -> ((s, d) => graft.queries.TextQueries.ngramJaccardPairs(s, d, Some(64))),
    "q42_capped_b64" -> ((s, d) => graft.queries.TextQueries.lshCappedPairs(s, d, 64)),
    // multiplicity-sized banded caps for the perceptual family: a pure
    // replica storm multiplies every bucket's occupancy by `reps`, so
    // cap 8 (the registry default) drops the very buckets holding the
    // duplicates — these variants size the cap to the storm (8 * 32)
    // and measure the bounded recovery curve
    "q112_cap256" -> ((s, d) => graft.queries.MultimodalQueries.bandedHashPairs(
      graft.queries.MultimodalQueries.decodedAudioHashes(s, d), cap = 256)
      .orderBy(col("doc_a"), col("doc_b"))),
    "q84_cap256" -> ((s, d) => graft.queries.MultimodalQueries.bandedHashPairs(
      graft.queries.MultimodalQueries.decodedHashes(s, d), cap = 256)
      .orderBy(col("doc_a"), col("doc_b"))),
    // the q122 production knob on the gate's own device: the capped
    // probe drops storm buckets from both join sides, bounding the
    // per-trigger quadratic unit the capless (gated) form pays for its
    // order-invariance contract
    "q122_cap64" -> ((s, d) =>
      graft.queries.StreamQueries.mediaIngestStore(s, d, capPerBucket = Some(64))))

  /** Tables replicated with a per-replica key offset; dimension tables
    * are shared (the realistic shape: facts grow, dims don't). */
  private val replicated: Map[String, (String, Long)] = Map(
    "lineitem" -> ("l_orderkey", 100000000L),
    "orders" -> ("o_orderkey", 100000000L),
    "documents" -> ("doc_id", 10000000L),
    "embeddings" -> ("vec_id", 10000000L),
    // events replicate on event_id with user_id/ts SHARED: every user's
    // timeline gains reps-1 co-timestamped copies of each event, so
    // session BOUNDARIES are invariant (duplicate timestamps open no
    // gaps) while per-session event volume multiplies — the q111 soak
    // isolates per-row stateful-processing cost from the fixed
    // restart/trigger overhead
    "events" -> ("event_id", 100000000L))

  private def generate(spark: SparkSession, src: String, out: String, reps: Int,
                       tables: Seq[String]): Unit =
    tables.foreach { t =>
      val base = graft.engine.Tables.read(spark, src, t)
      val df = replicated.get(t) match {
        case Some((key, off)) =>
          (0 until reps).map(r =>
            base.withColumn(key, col(key) + lit(r * off))).reduce(_ unionAll _)
        case None => base
      }
      df.write.mode("overwrite").parquet(s"$out/$t.parquet")
    }

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "/tmp/graft_soak"
    val reps = if (args.length > 2) args(2).toInt else 10
    // optional 4th arg: comma-separated query subset (targeted probes —
    // e.g. the q43 cap-on/cap-off pair at 30x without the full sweep)
    val subset = if (args.length > 3) Some(args(3).split(",").toSet) else None
    // optional 5th arg: comma-separated table subset to replicate — a
    // documents-only probe at 1000-3000x must not pay for (or store) a
    // 100M-row lineitem it never reads
    val tables = if (args.length > 4) args(4).split(",").toSeq
                 else graft.engine.Tables.all
    val spark = LocalSession(32)
    // marker records the generation params: a partial earlier run or a
    // different reps value must regenerate, not silently reuse stale data
    val marker = java.nio.file.Paths.get(out, "_SOAK_MARKER")
    val stamp = s"src=$src reps=$reps tables=${tables.mkString(",")}"
    if (!java.nio.file.Files.exists(marker) ||
      java.nio.file.Files.readString(marker) != stamp) {
      println(s"SOAK generating ${reps}x of $src at $out (${tables.mkString(",")})")
      generate(spark, src, out, reps, tables)
      java.nio.file.Files.createDirectories(marker.getParent)
      java.nio.file.Files.writeString(marker, stamp)
    }
    val active = soakQueries.filter(q => subset.forall(_.contains(q)))
    def timeAll(d: String): Map[String, Double] = active.map { q =>
      val t0 = System.nanoTime()
      // CONSTRUCTION stays inside the timed window (q69's stage counts
      // compute eagerly at construction), and the result materializes
      // every column through the noop sink, as in Bench: count() lets
      // Catalyst eliminate projection tails AND unique-keyed outer
      // joins (q70/q71 timed a bare scan under count)
      val df = extraRunners.getOrElse(q, SparkEntry.queries(q))(spark, d)
      // row count for the audit line rides the SAME noop materialization
      // via an Observation — a bare df.count() here would re-execute the
      // whole query a second time (uncached), doubling the soak's cost.
      // The CollectMetrics node rides INSIDE the timed plan (it can sit
      // above the final WholeStageCodegen), so soak timings are not
      // query-for-query comparable to Bench's (observe-free) accounting
      // of the same queries — compare soak-to-soak ratios only
      val obs = org.apache.spark.sql.Observation()
      df.observe(obs, count(lit(1)).as("rows"))
        .write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9 // clearCache stays untimed, as in Bench
      val n = obs.get("rows").asInstanceOf[Long]
      spark.catalog.clearCache()
      println(f"SOAK $d%-18s $q%-26s $dt%7.2f s   rows=$n")
      q -> dt
    }.toMap
    timeAll(src) // warm codegen/JIT so the comparison isolates data volume
    val small = timeAll(src)
    val big = timeAll(out)
    println(f"SOAK RATIO (${reps}x data)")
    active.foreach { q =>
      println(f"SOAK $q%-26s ${small(q)}%6.2f -> ${big(q)}%7.2f s   x${big(q) / small(q)}%.1f")
    }
    spark.stop()
  }
}
