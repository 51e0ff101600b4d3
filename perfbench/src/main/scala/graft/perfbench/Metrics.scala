package graft.perfbench

/** Every metric the benchmark prints, with its unit. An untraced run
  * prints all end-to-end metrics, a traced run all per-layer metrics;
  * BENCHMARK.json lists the same names (a test keeps them equal). */
object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "throughput_per_s" -> "1/s",
    "latency_p50_ms" -> "ms",
    "latency_p90_ms" -> "ms",
    "update_p50_ms" -> "ms",
    "recall" -> "ratio",
    "peak_heap_mb" -> "MB")

  val PerLayer: Seq[(String, String)] =
    Tracer.SpanNames.flatMap(s => Tracer.CounterNames.map { case (c, u) => s"$s.$c" -> u }) ++ Seq(
      "sources.read_s" -> "s",
      "sources.files" -> "count",
      "sources.bytes_read" -> "bytes",
      "sources.input_partitions" -> "count",
      "chunkers.self_s" -> "s",
      "chunkers.chunks" -> "count",
      "chunkers.chunks_per_doc" -> "ratio",
      "processors.self_s" -> "s",
      "functions.embed_self_s" -> "s",
      "sinks.write_s" -> "s",
      "sinks.files_written" -> "count",
      "sinks.bytes_written" -> "bytes",
      "sinks.store_bytes_per_input_byte" -> "ratio",
      "sinks.upsert_write_amp" -> "ratio",
      "sinks.upsert_rows_rewritten" -> "count",
      "streaming.trigger_ms" -> "ms",
      "streaming.add_batch_ms" -> "ms",
      "streaming.latest_offset_ms" -> "ms",
      "streaming.query_planning_ms" -> "ms",
      "streaming.wal_commit_ms" -> "ms",
      "streaming.rows_per_batch" -> "count",
      "similarity.brute_p50_ms" -> "ms",
      "similarity.filtered_p50_ms" -> "ms",
      "similarity.ivf_p50_ms" -> "ms",
      "similarity.files_read_per_query" -> "count",
      "similarity.rows_scanned_per_query" -> "ratio",
      "similarity.ivf_build_s" -> "s",
      "corpus.curate_s" -> "s",
      "corpus.funnel_input" -> "count",
      "corpus.funnel_lang" -> "count",
      "corpus.funnel_quality" -> "count",
      "corpus.funnel_exact_dedup" -> "count",
      "corpus.funnel_decontaminate" -> "count",
      "dedup.minhash_s" -> "s",
      "dedup.minhash_pairs" -> "count",
      "dedup.components_s" -> "s",
      "dedup.ngram_s" -> "s",
      "dedup.ngram_pairs" -> "count",
      "dedup.ngram_pairs_per_shuffled_record" -> "ratio",
      "dedup.index_write_s" -> "s",
      "dedup.index_probe_s" -> "s",
      "dedup.index_append_s" -> "s",
      "trace.overhead_ratio" -> "ratio")
}
