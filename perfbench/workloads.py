"""The benchmark's workloads: which registered queries and job entry
points each one runs, and which written-once relations it reads.

`relational` is where execution, planning and the catalog dominate: its
builders are lazy, it has no Python seam and reads no written-once
relation. `pipeline` exercises everything `relational` bypasses: the
reference embedding jobs through the Arrow UDF seam and the sharded
sink, a mapInPandas decoder, a reader of the shingle sketch, a builder
that runs Spark jobs before returning, and a graph query reading the
jsig edge relation. A warm pass takes about 6 s and 9 s at sf0.01 on a
4-core host, sized so that a run, JVM start included, stays near 55 s.
"""

from __future__ import annotations

# The one query set-up runs to reach its first warm result.
WARMUP_QUERY = "q1_pricing_summary"

WORKLOADS: dict[str, dict] = {
    "relational": {
        "queries": [
            "q5_region_volume",
            "q21_waiting_suppliers",
            "join_fact_fact",
            "window_rank_topn_per_group",
            "events_session_window",
            "events_asof_join",
        ],
        "jobs": [],
        "materialize": [],
    },
    "pipeline": {
        "queries": [
            "multimodal_decode_png",
            "curation_repetition_ratio",
            "orders_theilsen_trend",
            "graph_kcore_summary",
        ],
        "jobs": [
            "run_embedding_job",
            "run_chunked_embedding_job",
            "run_consolidation_job",
        ],
        "materialize": ["sketch", "jsig"],
    },
}

# The queries that read the shingle sketch: sketch.bytes_written is
# expected above 0 only on a workload that runs one of these.
SKETCH_READERS = {
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "dedup_incremental_minhash",
    "dedup_lsh_recall_eval",
    "decontam_ngram_overlap",
    "text_ngram_novelty",
    "curation_repetition_ratio",
}
