"""The benchmark's fixed operation sets and metric names.

BATCH_GATES is every eighth key, in name order within each key family, of
the non-stream gate keys that read only their input directory and agree
with their DuckDB oracle on the benchmark's tables. The list is fixed so
that adding a gate key does not change what the benchmark measures.

Left out of the selection base:
  - keys that stage state under a fixed scratch root outside their input
    directory (the txn, index, round-trip and streaming-state keys): a
    run may write only inside its own checkout;
  - the stream_* keys, which the stream workload's drain stands in for;
  - three keys that disagree with their oracle on the benchmark's tables
    by one unit in the last place their query rounds to. Each result is
    a double (an interpolated percentile, a sum of ln terms) that lands
    on a rounding boundary before ROUND, and the two engines round it
    apart. These are defects of the gates, recorded here until fixed:
      q_percentile         p90 450853.58, oracle 450853.59
      q_percentile_binned  the same interpolation, binned
      stream_drift         psi 0.024691, oracle 0.02469
"""

BATCH_GATES = """
ann_filtered ann_range approx_distinct corpus_bm25 corpus_decontaminate
corpus_mix corpus_pipeline_v2 corpus_temperature_mix dedup_chunks dedup_eval
dedup_simhash embed_centroid er_cluster etl_bitemporal etl_dq_rules
etl_ldiversity etl_scd2 graph_hops graph_triangles mm_audio_fp
mm_phash_dedup q_abtest q_attribution q_full_join q_interval_merge
q_mode_median q_retention q_stats q_transitions q_window_range text_chunk
text_langid_confusion xf_comp
""".split()

# set-up warms the JVM on the small tables with three keys of the
# largest families (the check pass then warms every key at full scale)
BATCH_WARMUP = ["corpus_bm25", "dedup_chunks", "q_abtest"]


# mergeable-sketch estimates depend on merge order: row count only (the
# same exclusion as the product's determinism sweep)
ROWS_ONLY = {"approx_distinct", "approx_quantiles", "approx_freq",
             "approx_mergeable"}

FAMILIES = ["q", "etl", "xf", "dedup", "corpus", "graph", "ann", "text",
            "mm", "embed", "er", "approx"]

# span layers whose self time a traced run reports
LAYERS = ["op", "driver", "spark", "connector", "sinks", "txn", "streaming"]

END_TO_END = ["setup_s", "wall_s", "job_p50_s", "job_p95_s", "heap_peak_mb"]
