"""The benchmark's workloads and the seeded order of their queries.

Each workload is a fixed list of registry queries; the seed only shuffles
the order in which a pass runs them, so every seed sees the same inputs
and the same work. Why each list holds what it holds is in README.md.
"""
import random

WORKLOADS = {
    # Short SQL and relational queries: per-query fixed cost (SQL facade,
    # Catalyst planning, job scheduling, parquet scan) plus one sink write.
    "sql-short": [
        "q_tpch_q10",
        "q_sql_ddl_partitioned",
        "q_window_sql_tumble",
        "q_match_sql_within",
        "q_sink_avro",
    ],
    # Curation queries whose time is task compute in the operator and
    # function kernels, and shuffle; the first is the whole funnel.
    "curation-heavy": [
        "q_doc_pipeline_full",
        "q_doc_jaccard",
    ],
    # Structured Streaming replays: a multi-batch foreachBatch maintainer
    # writing a VersionedStore, and a single-batch stateful dedup.
    "stream-maintain": [
        "q_stream_cdc",
        "q_stream_dedup_last",
    ],
}


def pass_orders(names, seed, passes):
    """`passes` orders of `names`, each a seeded shuffle: the same seed
    gives the same orders, and the set of names never changes."""
    rng = random.Random(seed)
    return [rng.sample(list(names), len(names)) for _ in range(passes)]
