"""The benchmark's workloads: which operations each submits, in order.

Each operation is a `SparkEntry.queries` name, whose result is written
(a `noop` write on warm passes), or `csv:<query>` for `Sinks.writeFinalCsv`
of that query's result.
Each list keeps the queries that reach the layers its workload is meant
to stress; README.md says why each was chosen and what was left out.
"""

WORKLOADS = {
    # name: (operations, flagship query)
    "premarket": ([
        "e1_pipeline", "g1_trading_calendar",
        "j1_calendar_inner_join", "j4_asof_tolerance", "j4b_asof_native",
        "t3_pct_change", "t7_relevance_native", "t8_recency_window",
        "m1_sentiment", "a5a8_validator", "csv:e1_pipeline",
    ], "e1_pipeline"),
    "curation": ([
        "e4_curation_full", "e8_ingest_screen", "ta_bpe_merges",
    ], "e4_curation_full"),
    "retrieval": ([
        "sim_ivfpq_recall", "sim_kmeans", "sim_topk", "sim_binary_ann",
    ], "sim_ivfpq_recall"),
}
