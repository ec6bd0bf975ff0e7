"""The benchmark's workloads: named query mixes over the engine's
registered queries (`__spark_entry__.queries()`).

Each mix stresses a different layer, so a change aimed at one layer
has a workload that exercises it and one that bypasses it:

- `crane_batch` is dominated by fixed per-query cost (planning, job
  scheduling, `load_table`); Python workers, streaming state and
  iterative loops do almost no work.
- `crane_stream` is dominated by availableNow drains inside the build:
  file-drop writes, micro-batch planning, WAL commits, RocksDB state
  and the applyInPandasWithState workers.
- `iterative_ops` is dominated by iterative operators that start tens
  of Spark jobs while the DataFrame is built.

Every run starts a JVM and pays one warm-up pass (two to three times
slower than a warm one) before it times three, so the registered mixes
are kept small: a run takes about 25-35 s (`crane_stream`) and 40-50 s
(`iterative_ops`) on 4 shared cores. `crane_stream` keeps the word count
(aggregation state) and the running counts (pandas state) and leaves out
the host report (the same drain and state store as the word count) and
the stream-stream join (about 6 s a pass). `iterative_ops` keeps the
two fixpoints of the dedup and graph layers, `dedup_transitive` and
`copurchase_components`; it leaves out the greedy cover (curation,
about 6 s a pass and 13 s of warm-up), ALS (linalg), PageRank, DBSCAN
and the UDF kernels.
`crane_batch`, `stream_full` and `iterative_full` are the full mixes,
run by hand and by `record.py`.
"""

from __future__ import annotations

WORKLOADS: dict[str, dict] = {
    "crane_batch": {
        "why": "Crane's three apps plus TPC-H-style scan/join/aggregate plans: "
        "short queries whose time is planning, scheduling and table loads",
        "queries": [
            "q1_wordcount",
            "q2_top_users",
            "q3_host_report",
            "pricing_summary",
            "revenue_by_nation",
            "top_unshipped_orders",
            "market_share",
            "min_cost_supplier",
            "sessionize_events",
            "crane_sink_roundtrip",
        ],
    },
    "crane_stream": {
        "why": "Crane's word count as an availableNow stream plus pandas state: "
        "file-drop writes, drains, WAL commits and state stores",
        "queries": [
            "stream_wordcount",
            "stream_running_counts",
        ],
    },
    "iterative_ops": {
        "why": "MinHash dedup with a components fixpoint, and graph connected components: "
        "25-41 jobs per build, driver and scheduling overhead of iterative loops",
        "queries": [
            "dedup_transitive",
            "copurchase_components",
        ],
    },
    "stream_full": {
        "why": "nine availableNow twins: Crane's three apps, exact dedup, windows, "
        "sessions, pandas state, upserts and the stream-stream join",
        "queries": [
            "stream_wordcount",
            "stream_host_report",
            "stream_reddit_top_users",
            "stream_dedup_exact",
            "stream_events_per_hour",
            "stream_sessionize_events",
            "stream_running_counts",
            "stream_upsert_user_totals",
            "stream_purchase_click_join",
        ],
    },
    "iterative_full": {
        "why": "components, PageRank, DBSCAN, greedy-cover and ALS loops plus the "
        "MinHash-LSH and SimHash UDF kernels",
        "queries": [
            "dedup_transitive",
            "copurchase_components",
            "copurchase_pagerank",
            "user_geo_dbscan",
            "doc_greedy_coverage",
            "customer_part_als",
            "dedup_minhash_lsh",
            "simhash",
        ],
    },
}
