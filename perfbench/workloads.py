"""The benchmark's workloads: which ops each runs, at what input size,
and why it was chosen. Op names are keys of `graft.SparkEntry.queries`."""

WORKLOADS = {
    "sql_interactive": {
        "sf": 0.01,
        "why": "analyst queries over the star schema and events: small ops, "
               "each a handful of one-task Spark jobs, so per-job driver "
               "overhead dominates; touches no staging, streaming or mock-API code",
        "ops": [
            "q01_agg", "q05_region_revenue", "agg_grouping_sets", "events_cohort_ltv",
            "join_semi", "join_range_band", "win_running", "setop_intersect",
            "subquery_in", "events_funnel",
        ],
    },
    "curate_llm": {
        "sf": 0.01,
        "why": "dataset-curation ops over documents and embeddings: executor "
               "CPU in the native expression kernels and UDFs dominates, and "
               "the staging build-once cache is filled during set-up",
        "ops": [
            "dedup_exact", "dedup_minhash_lsh", "dedup_simhash", "sim_cosine_topk",
            "sim_ann_lsh", "doc_quality", "text_bpe_tokenize", "retrieval_bm25_persisted",
        ],
    },
    "ingest_stream": {
        "sf": 0.01,
        "why": "the pipeline operator's path: mock-API fetches with planted "
               "retries, landing writes then reads, merges and micro-batch "
               "stream replays; work inside the query function and trigger "
               "walls dominates",
        "ops": [
            "a01_api_paginated", "a01_api_pushdown", "a01_landing_stream",
            "a12_ndjson_roundtrip", "a07_watermark", "a17_clustered_sink", "merge_upsert",
            "stream_stateful_counts", "stream_restart_resume",
        ],
    },
}
