"""The benchmark's workloads: which keys run, on which input.

Each workload is a fixed list of `SparkEntry.queries` keys. Every run sets
up once, then runs the whole list per pass; the seed permutes the order
within each pass. `sf` picks the input tables; `factor` makes the input
the generated near-duplicate corpus (corpus.py) instead.

The lists are short because a run must stay near 50 s: the benchmark
gets 22 runs of each workload in under an hour, and each run pays a JVM
set-up (~11 s) and a cold pass (~20 s) before its warm passes.
"""

WORKLOADS = {
    # Many sub-second reads at sf0.1, where planning and task dispatch
    # dominate; no driver loops, sinks or streams.
    "olap_sf01": {
        "sf": "0.1",
        "keys": [
            "a3_scan_filter_pushdown", "b2_filter_complex", "c1_join_broadcast_equi",
            "c18_join_in_subquery", "d3_agg_count_distinct", "d21_agg_hll_sketch_merge",
            "e1_win_topk_per_group", "h1_str_funcs",
        ],
    },
    # The LLM-data tail on a near-duplicate clone of the documents and
    # embeddings, where task work, shuffles and driver-loop rounds decide.
    "corpus_scaled": {
        "sf": "0.1",
        "factor": 4,
        "keys": ["j5_text_wordcount", "l17_pipeline_corpus_prep", "l43_bpe_vocab"],
    },
    # Sink commits, catalog DML, merges and a stateful micro-batch stream at
    # sf0.1; every sink key reads back what it wrote.
    "etl_write_stream": {
        "sf": "0.1",
        "keys": [
            "a5_sink_partitioned_parquet", "a12_sink_dynamic_overwrite",
            "a25_catalog_cow_delete", "a30_catalog_merge_exec", "i1_stream_tumbling",
        ],
    },
    # Tiny input for selftest.py; not one of the measured workloads.
    "selftest": {
        "sf": "0.001",
        "keys": [
            "b2_filter_complex", "d21_agg_hll_sketch_merge", "a5_sink_partitioned_parquet",
            "i1_stream_tumbling", "j5_text_wordcount",
        ],
    },
}
