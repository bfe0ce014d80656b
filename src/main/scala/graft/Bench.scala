package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main — runs every SparkEntry query end-to-end at
  * SPARK_GRAFT_SF_DIR and prints one JSON line.
  *
  * Queries are forced through a `noop` write (computes every column,
  * discards output): `count()` would let Catalyst prune projections and
  * under-measure compute-heavy operators.
  */
object Bench {
  def noopWrite(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Wall seconds of building `df` (construction jobs included) and
    * writing it to the noop sink: the unit every bench timing measures. */
  def noopSeconds(df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    noopWrite(df)
    (System.nanoTime() - t0) / 1e9
  }

  /** One unbilled action so JVM/codegen startup isn't billed to the first query. */
  def warmUp(spark: SparkSession, sfDir: String): Unit =
    noopWrite(spark.read.parquet(s"$sfDir/lineitem.parquet"))

  /** The run's closing stdout lines. The first, `total_headline`, carries
    * the headline-subset query map (human/log surface). The last is the
    * one `"metric":"total"` line, kept compact for collectors that read
    * only the last ~2000 characters of stdout, where the ~3 KB headline
    * line loses its head: the totals and error states, and the path of
    * the detail file with the full query map. */
  def summaryLines(total: String, nQueries: Int, nOk: Int, headlineQueries: String,
                   errors: String, detailPath: String, sfDir: String): Seq[String] = {
    def line(metric: String, queries: String) =
      s"""{"metric":"$metric","value":$total,"unit":"sec","n_queries":$nQueries,"n_ok":$nOk,"queries":$queries,"errors":$errors,"detail":"$detailPath","sf":"$sfDir"}"""
    Seq(line("total_headline", headlineQueries), line("total", "{}"))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()
    warmUp(spark, sfDir)
    // median of 3 runs per query: at small SF the suite is dominated by
    // per-plan codegen compilation and JIT/GC scheduling — single-shot
    // timings vary >5× run-to-run and manufacture phantom regressions
    val iters = sys.env.get("SPARK_GRAFT_BENCH_ITERS")
      .flatMap(_.toIntOption).filter(_ >= 1).getOrElse(3)
    // Failures must not read as (fast) timings: each query carries an "err"
    // field and any failure makes the whole run exit nonzero, so a regression
    // that breaks a query can never masquerade as a speedup.
    // optional first arg: comma-separated query-name filter for quick
    // single-query timing loops (the driver passes no args → full run)
    val only: Option[Set[String]] =
      args.headOption.filter(_.nonEmpty).map(_.split(",").toSet)
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(t => only.forall(_.contains(t._1))).map { case (name, fn) =>
      var err: Option[String] = None
      val times = (1 to iters).map { _ =>
        val t0 = System.nanoTime()
        try noopWrite(fn(spark, sfDir))
        catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            err = Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
        }
        (System.nanoTime() - t0) / 1e9
      }.sorted
      (name, times(times.length / 2), err)
    }
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    def fmt(v: Double): String = f"$v%.3f"
    def qmap(rs: Seq[(String, Double, Option[String])]): String =
      rs.map { case (k, v, _) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    // the headline total counts ONLY clean queries: an errored query's
    // (fast) failure time would otherwise deflate the total and make a
    // broken run read as a perf baseline (round-5 postmortem)
    val ok = results.filter(_._3.isEmpty)
    val total = ok.map(_._2).sum
    val nOk = ok.length
    // Full per-query detail goes to a FILE: the harness that collects this
    // run keeps only a short tail of stdout, and a 170-query map does not
    // fit — the stdout line carries the total, error states, and a fixed
    // family-representative headline subset, and points at the detail file.
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL", "bench_detail.json")
    // Isolated warm medians for the top-N in-suite costs: the suite
    // numbers carry whatever GC/JIT state the 300-query sweep left
    // behind, so round-over-round suite deltas on individual queries are
    // dominated by host noise. This second pass re-times each expensive
    // query alone — one unbilled warm-up run, then median of 3 — and is
    // the column BASELINE.md quotes for per-query comparisons.
    val isolatedN = sys.env.get("SPARK_GRAFT_BENCH_ISOLATED")
      .flatMap(_.toIntOption).getOrElse(15)
    val isolated = ok.sortBy(-_._2).take(isolatedN).map { case (name, _, _) =>
      val fn = SparkEntry.queries(name)
      System.gc()
      def run(): Double = noopSeconds(fn(spark, sfDir))
      try {
        run() // warm-up: plan/codegen caches primed, not billed
        val times = (1 to 3).map(_ => run()).sorted
        (name, times(1), None: Option[String])
      } catch { // in-suite success + isolated failure is a state leak —
        // it must fail the run like any other query failure, not
        // silently vanish from the column BASELINE.md quotes
        case e: Throwable =>
          System.err.println(s"[bench] isolated $name failed: ${e.getMessage}")
          (name, 0.0,
            Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(200)))
      }
    }
    val allErrs = (results ++ isolated.map { case (k, t, e) =>
      (s"isolated:$k", t, e) }).collect {
      case (k, _, Some(e)) => "\"" + k + "\":" + jstr(e)
    }.mkString("{", ",", "}")
    val detail = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.length},"n_ok":$nOk,"queries":${qmap(results)},"bench_isolated":${qmap(isolated.filter(_._3.isEmpty))},"errors":$allErrs,"sf":"$sfDir"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(detailPath),
      detail.getBytes("UTF-8"))
    val headline = Set(
      "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
      "q_window_rank", "q_quantiles", "q_topk_orders", "q_asof_join",
      "q_range_autobin",
      "q_rollup_revenue", "cdc_envelope", "cdc_multitable",
      "cdc_config_pipeline", "cdc_event_filter", "cdc_snapshot_fence",
      "cdc_txn_boundaries", "dedup_exact", "dedup_minhash_lsh",
      "dedup_simhash", "dedup_ngram_jaccard", "dedup_substring_spans",
      "dedup_incremental", "dedup_clusters", "dedup_semantic",
      "dedup_bloom_prune", "dedup_winnow_prune", "dedup_edit_distance",
      "ann_cosine_topk", "ann_ivf_topk", "ann_pq_adc_topk",
      "ann_ivf_pq_topk", "ann_lsh_cosine", "text_tfidf_topk",
      "text_bm25_topk", "text_langid", "text_repetition", "text_pii_redact",
      "text_strip_markup", "pipeline_gopher_filter", "pipeline_clean_corpus",
      "sample_dsir_topk", "mix_unimax", "pack_shards", "sample_splits",
      "vocab_bpe_encode", "multimodal_resize", "multimodal_video",
      "web_url_dedup", "events_sessionize", "events_funnel",
      "web_pagerank", "classifier_perceptron", "embed_power_iteration",
      "cdc_incremental_snapshot", "events_attribution", "pack_token_ids",
      "dedup_cdc_chunks", "ann_ivf_pq_rerank", "q_geo_radius_join",
      // round-7 families
      "q10_returned_items", "q18_large_volume", "q21_waiting_supplier",
      "layout_zorder_key", "layout_zonemap_prune", "text_boilerplate_remove",
      "text_blocklist_hits", "sample_priority", "profile_heavy_hitters",
      "events_stats_agg", "events_lttb", "topic_clusters",
      // round-9 families
      "cdc_pgoutput_decode", "cdc_envelope_json", "events_candlestick",
      "events_heartbeat", "events_hdr_quantiles",
      "events_time_weighted_interp", "sample_kcenter",
      "cdc_pgoutput_envelope",
      // closing-r9 families: sketch aggregates + paragraph dedup
      "events_freq_topn", "events_asap_smooth", "events_m4",
      "events_hll_rollup", "events_cms_heavy", "dedup_paragraph_minhash",
      "source_overlap_approx")
    val head = results.filter(r => headline(r._1))
    summaryLines(fmt(total), results.length, nOk, qmap(head), allErrs, detailPath, sfDir)
      .foreach(println)
    spark.stop()
    if (results.exists(_._3.isDefined) || isolated.exists(_._3.isDefined)) sys.exit(1)
  }
}
